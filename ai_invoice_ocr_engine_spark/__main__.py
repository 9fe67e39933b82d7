"""CLI — the job entry point for spark-submit / python -m.

Analog of the reference CLI (/root/reference/cli.py: predict/train/export
subcommands) re-shaped for a distributed batch engine:

    python -m ai_invoice_ocr_engine_spark gen --out DIR --docs 2000 [--seed 42]
    python -m ai_invoice_ocr_engine_spark extract --docs DIR/documents.parquet \
        --media DIR/media.parquet --out OUTDIR [--buckets 32] [--no-resume] \
        [--master local[32]]
    python -m ai_invoice_ocr_engine_spark oracle --docs ... --media ... --out golden.parquet
    python -m ai_invoice_ocr_engine_spark ingest --pdfs DIR_OF_PDFS --out TABLES_DIR
    python -m ai_invoice_ocr_engine_spark stats --out OUTDIR      # layout/skew report
    python -m ai_invoice_ocr_engine_spark compact --out OUTDIR    # small-file rewrite

On a real cluster the same module rides ``spark-submit --py-files
ai_invoice_ocr_engine_spark.zip -m ...`` — there is no driver-side state
beyond the session.
"""

from __future__ import annotations

import argparse
import json
import sys


def _add_cfg_flags(sp) -> None:
    """Pipeline-config flags shared by `extract` and `oracle` (same flags on
    both sides so golden comparisons use identical configs) — the reference
    CLI's config switches (bm/bw decode mode, prep.ori, cls.en)."""
    sp.add_argument("--decode", default="greedy", choices=["greedy", "beam"],
                    help="CTC decode mode (reference config bm)")
    sp.add_argument("--beam-width", type=int, default=5,
                    help="beam width when --decode beam (reference bw)")
    sp.add_argument("--no-orient", action="store_true",
                    help="disable page-orientation correction (prep.ori)")
    sp.add_argument("--no-cls", action="store_true",
                    help="disable textline 0/180 classification (cls.en)")
    sp.add_argument("--skip-bad-media", action="store_true",
                    help="count corrupt/unsupported media toward "
                         "n_media_missing instead of failing the task")
    sp.add_argument("--unwarp", action="store_true",
                    help="page perspective rectification before orientation "
                         "(reference prep.uwp, off by default there too)")
    sp.add_argument("--rotated", action="store_true",
                    help="min-area-rect quads + perspective crop for skewed "
                         "text lines (reference detect/postprocess.py "
                         "_get_mini_box + crop_poly) instead of AABB")
    sp.add_argument("--weights", default=None, metavar="NPZ",
                    help="externally supplied recognition weights (.npz with "
                         "w1/w2) — the pretrained-model seam (reference "
                         "recognizer.py loads ONNX); default: frozen seeded "
                         "fixture weights")


def _cfg_from(args):
    import dataclasses

    from .config import ExtractConfig

    base = ExtractConfig()
    return dataclasses.replace(
        base,
        on_bad_media="skip" if getattr(args, "skip_bad_media", False) else "fail",
        det=dataclasses.replace(base.det, rotated=getattr(args, "rotated", False)),
        rec=dataclasses.replace(
            base.rec, decode=args.decode, beam_width=args.beam_width,
            weights_path=getattr(args, "weights", None),
        ),
        prep=dataclasses.replace(
            base.prep, ori=not args.no_orient,
            unwarp=getattr(args, "unwarp", False),
        ),
        cls=dataclasses.replace(base.cls, en=not args.no_cls),
    )


def _read_spans(spark, path: str):
    """The ``--spans`` input of ``eval`` and ``export``. A table's
    ``spans`` tree (its parent holds a snapshot log) reads with the
    table's declared schema, so an emptied table reads as no rows; any
    other parquet (the oracle's golden file) reads with the schema its
    files carry."""
    import posixpath

    from . import snapshots

    table, tree = posixpath.split(path.rstrip("/"))
    if tree == "spans" and snapshots.current_snapshot_id(spark, table) is not None:
        return snapshots.read_tree(spark, table)
    return spark.read.parquet(path)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="ai_invoice_ocr_engine_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate a deterministic synthetic corpus")
    g.add_argument("--out", required=True)
    g.add_argument("--docs", type=int, default=200)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--max-side", type=int, default=960)
    g.add_argument("--pdfs", default=None, metavar="DIR",
                   help="also render the corpus as raw .pdf files into DIR "
                        "(dangling-ref edge docs are skipped), ready for "
                        "the `ingest` subcommand")

    e = sub.add_parser("extract", help="run the Spark extraction job")
    e.add_argument("--docs", required=True)
    e.add_argument("--media", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--buckets", type=int, default=32)
    e.add_argument("--no-resume", action="store_true")
    e.add_argument("--master", default=None)
    e.add_argument("--run-id", default=None)
    _add_cfg_flags(e)

    # raw-file front-ends (north rule "HTML boilerplate strip, PDF/layout
    # parse, DOM heuristics"): raw PDFs or HTML pages → the two input
    # tables `extract` consumes
    ing = sub.add_parser(
        "ingest", help="parse raw PDFs or HTML into documents/media tables"
    )
    ing_src = ing.add_mutually_exclusive_group(required=True)
    ing_src.add_argument("--pdfs", default=None,
                         help="directory of .pdf files (read via Spark "
                              "binaryFile) or a parquet path with "
                              "(doc_id string, pdf binary)")
    ing_src.add_argument("--html", default=None,
                         help="directory of .html files (read via Spark "
                              "binaryFile) or a parquet path with "
                              "(doc_id string, html binary); boilerplate "
                              "stripped via DOM heuristics")
    ing.add_argument("--out", required=True, help="output dir for the two tables")
    ing.add_argument("--skip-bad", action="store_true",
                     help="record parse errors per doc instead of failing")
    ing.add_argument("--password", default="",
                     help="PDF password (tried as user, then owner) applied "
                          "to every document in the batch")
    ing.add_argument("--stream", action="store_true",
                     help="treat --pdfs/--html as a landing directory: Structured "
                          "Streaming binaryFile source, incremental append "
                          "with cross-batch media dedup; rerun to pick up "
                          "new files (checkpointed)")
    ing.add_argument("--checkpoint", default=None,
                     help="streaming checkpoint dir (default OUT/_checkpoint)")
    ing.add_argument("--master", default=None)

    v = sub.add_parser("verify-lineage", help="recompute checksums vs lineage")
    v.add_argument("--out", required=True)
    v.add_argument("--master", default=None)

    st = sub.add_parser("stats", help="per-bucket layout/skew report")
    st.add_argument("--out", required=True, help="extract out_dir")
    st.add_argument("--master", default=None)

    cp = sub.add_parser("compact", help="rewrite small span files per bucket")
    cp.add_argument("--out", required=True, help="extract out_dir")
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument("--master", default=None)

    up = sub.add_parser(
        "upsert",
        help="re-extract (or --delete) a doc subset and MERGE INTO the "
        "bucketed spans table, lineage updated",
    )
    up.add_argument("--out", required=True, help="extract out_dir")
    up.add_argument("--docs", required=True)
    up.add_argument("--media", default=None)
    up.add_argument("--where", default="", help="SQL boolean over docs")
    up.add_argument("--delete", action="store_true",
                    help="purge matching docs instead of re-extracting; "
                    "requires a non-empty --where (or --all-docs). "
                    "TAKEDOWN CAVEAT: a streaming ingest re-asserts its "
                    "source files — a purged doc is re-added if its file "
                    "is replayed, so takedowns must ALSO remove the doc "
                    "from the stream's source directory. History note: "
                    "prior snapshots still contain the purged rows until "
                    "`expire` drops them.")
    up.add_argument("--all-docs", action="store_true",
                    help="with --delete: explicitly confirm purging EVERY "
                    "doc in --docs from the spans table")
    up.add_argument("--master", default=None)
    _add_cfg_flags(up)

    sn = sub.add_parser(
        "snapshots", help="list the table's snapshot log (Iceberg analog)"
    )
    sn.add_argument("--out", required=True, help="extract out_dir")
    sn.add_argument("--master", default=None)

    rb = sub.add_parser(
        "rollback", help="restore the spans table to an earlier snapshot"
    )
    rb.add_argument("--out", required=True, help="extract out_dir")
    rb.add_argument("--to", required=True, type=int, help="snapshot id")
    rb.add_argument("--master", default=None)

    sd = sub.add_parser(
        "diff",
        help="row-level CDC between two snapshots "
        "(doc_id, bucket, insert|delete|update)",
    )
    sd.add_argument("--out", required=True, help="extract out_dir")
    sd.add_argument("--from", dest="from_id", required=True, type=int)
    sd.add_argument("--to", dest="to_id", required=True, type=int)
    sd.add_argument("--master", default=None)

    ex = sub.add_parser(
        "expire", help="drop old snapshots and vacuum unreferenced files"
    )
    ex.add_argument("--out", required=True, help="extract out_dir")
    ex.add_argument("--keep-last", type=int, default=2)
    ex.add_argument("--master", default=None)

    rbk = sub.add_parser(
        "rebucket", help="rewrite the spans table under a new bucket count "
        "(partition evolution; old snapshots stay readable)"
    )
    rbk.add_argument("--out", required=True, help="extract out_dir")
    rbk.add_argument("--buckets", required=True, type=int)
    rbk.add_argument("--master", default=None)

    tg = sub.add_parser(
        "tag", help="name a snapshot (pinned through expiry); no flags: list"
    )
    tg.add_argument("--out", required=True, help="extract out_dir")
    tg.add_argument("--name", default=None)
    tg.add_argument("--to", type=int, default=None, help="snapshot id")
    tg.add_argument("--delete", action="store_true")
    tg.add_argument("--master", default=None)

    cl = sub.add_parser(
        "clone", help="zero-copy table clone (hard links + snapshot log)"
    )
    cl.add_argument("--src", required=True, help="source extract out_dir")
    cl.add_argument("--dst", required=True, help="destination out_dir")
    cl.add_argument("--master", default=None)

    gc = sub.add_parser(
        "gc", help="remove torn (uncommitted) files the HEAD snapshot "
        "does not reference"
    )
    gc.add_argument("--out", required=True, help="extract out_dir")
    gc.add_argument("--master", default=None)

    lk = sub.add_parser("lookup", help="bucket-pruned point lookup by doc_id")
    lk.add_argument("--out", required=True, help="extract out_dir")
    lk.add_argument("--doc-ids", required=True, help="comma-separated ids")
    lk.add_argument("--history", action="store_true",
                    help="audit trail across retained snapshots instead of "
                    "the live value (one bucket-pruned read per snapshot)")
    lk.add_argument("--master", default=None)

    cu = sub.add_parser(
        "curate",
        help="run the corpus-curation funnel (quality -> repetition -> "
             "exact dedup [-> MinHash near-dup]) and write kept docs",
    )
    cu.add_argument("--docs", required=True, help="documents parquet path")
    cu.add_argument("--out", required=True, help="output dir (kept/ + report)")
    cu.add_argument("--quality", type=float, default=0.75,
                    help="quality_score acceptance threshold")
    cu.add_argument("--near-dedup", action="store_true",
                    help="also drop near-duplicates (keep the longest "
                         "member per component)")
    cu.add_argument("--method", choices=("minhash", "simhash"),
                    default="minhash",
                    help="near-dup candidate generator (shingle Jaccard "
                         "vs token-Hamming SimHash)")
    cu.add_argument("--fast-hash", action="store_true",
                    help="xxhash64 MinHash family (the at-scale choice; "
                         "default md5 is the oracle-checkable one)")
    cu.add_argument("--master", default=None)

    o = sub.add_parser("oracle", help="run the single-process golden oracle")
    o.add_argument("--docs", required=True)
    o.add_argument("--media", required=True)
    o.add_argument("--out", required=True)
    _add_cfg_flags(o)

    # the reference CLI's eval subcommand (/root/reference/cli.py:48-49 — a
    # print-only stub there) made real: span-sequence equality + text-level
    # recognition metrics of an extracted table against a golden parquet
    ev = sub.add_parser("eval", help="evaluate spans table vs golden parquet")
    ev.add_argument("--spans", required=True, help="OUT/spans dir of `extract`")
    ev.add_argument("--golden", required=True, help="golden parquet (oracle cmd)")
    ev.add_argument("--master", default=None)

    # the reference CLI's output-format switch (dococr predict -f,
    # /root/reference/cli.py:33-38) as a post-extraction step
    x = sub.add_parser("export", help="export an extracted spans table")
    src = x.add_mutually_exclusive_group(required=True)
    src.add_argument("--spans", help="OUT/spans dir of `extract` (live table)")
    src.add_argument("--table", help="extract out_dir — read via the "
                     "snapshot log (HEAD, or --as-of)")
    x.add_argument("--as-of", dest="as_of", type=int, default=None,
                   help="with --table: snapshot id to export (time travel)")
    x.add_argument("--out", required=True)
    x.add_argument("--format", default="json", choices=["json", "csv", "txt", "xlsx", "html"])
    x.add_argument("--master", default=None)

    # the reference CLI's --visualize save loop (cli.py:42: draw boxes on
    # each frame, write one annotated image per input)
    ex = sub.add_parser(
        "exif",
        help="EXIF geo-tag census over a media table, optionally scrubbing "
             "GPS/MakerNotes/serials to the safe-tag whitelist (--scrub; "
             "pixels untouched) — the image analog of PII redaction",
    )
    ex.add_argument("--media", required=True, help="media parquet")
    ex.add_argument("--scrub", action="store_true",
                    help="write a scrubbed copy of the media table")
    ex.add_argument("--out", default=None,
                    help="output parquet dir (required with --scrub)")
    ex.add_argument("--master", default=None)

    vz = sub.add_parser("viz", help="write per-frame detection overlay PNGs")
    vz.add_argument("--media", required=True, help="media parquet")
    vz.add_argument("--out", required=True, help="directory for overlay PNGs")
    vz.add_argument("--limit", type=int, default=0,
                    help="annotate only the first N frames (0 = all)")
    vz.add_argument("--thickness", type=int, default=2)
    vz.add_argument("--labels", action="store_true",
                    help="draw recognized text + score per box "
                         "(the reference cli.py:42 draw_ocr_result loop)")
    vz.add_argument("--font-size", type=int, default=18)
    vz.add_argument("--master", default=None)
    _add_cfg_flags(vz)

    args = p.parse_args(argv)

    if args.cmd == "gen":
        from .fixtures import gen_corpus, write_corpus, write_pdf_corpus

        docs, media = gen_corpus(
            seed=args.seed, n_docs=args.docs, max_media_side=args.max_side
        )
        dp, mp = write_corpus(args.out, docs, media)
        rep = {"documents": dp, "media": mp, "n_docs": len(docs),
               "n_media": len(media)}
        if args.pdfs:
            refs = {m["media_ref"] for m in media}
            renderable = [
                d for d in docs
                if all(s["media_ref"] in refs for s in d["spans"]
                       if s["kind"] == "media")
            ]
            write_pdf_corpus(args.pdfs, renderable, media)
            rep["pdfs"] = args.pdfs
            rep["n_pdfs"] = len(renderable)
        print(json.dumps(rep))
        return 0

    if args.cmd == "extract":
        from .pipeline import run_extract
        from .sources.session import get_spark

        spark = get_spark(app="extract", master=args.master)
        try:
            stats = run_extract(
                spark,
                args.docs,
                args.media,
                args.out,
                cfg=_cfg_from(args),
                num_buckets=args.buckets,
                resume=not args.no_resume,
                run_id=args.run_id,
            )
        finally:
            spark.stop()
        print(json.dumps(stats))
        return 0

    if args.cmd == "ingest":
        import os

        from pyspark.sql import functions as F

        from .sources.ingest import ingest_html, ingest_pdfs, split_ingest
        from .sources.session import get_spark

        spark = get_spark(app="ingest", master=args.master)
        if args.stream:
            from .streaming import incremental_pdf_ingest

            ck = args.checkpoint or os.path.join(args.out, "_checkpoint")
            try:
                q = incremental_pdf_ingest(
                    spark, args.pdfs or args.html, args.out, ck,
                    on_bad="skip" if args.skip_bad else "fail",
                    trigger_once=True,
                    source="pdf" if args.pdfs else "html",
                    password=args.password.encode() if args.pdfs else b"",
                )
                q.awaitTermination()
                dp = os.path.join(args.out, "documents.parquet")
                n_docs = spark.read.parquet(dp).count()
            finally:
                spark.stop()
            print(json.dumps({"out": args.out, "n_docs_total": n_docs,
                              "checkpoint": ck}))
            return 0
        in_path = args.pdfs or args.html
        col, exts, glob, ingest_fn = (
            ("pdf", (".pdf",), "*.pdf", ingest_pdfs)
            if args.pdfs
            else ("html", (".html", ".htm"), "*.htm*", ingest_html)
        )
        try:
            if os.path.isdir(in_path) and any(
                f.lower().endswith(exts) for f in os.listdir(in_path)
            ):
                src = (
                    spark.read.format("binaryFile")
                    .option("pathGlobFilter", glob)
                    .load(in_path)
                    .select(
                        F.regexp_extract(
                            F.col("path"), r"([^/]+)\.[A-Za-z]+$", 1
                        ).alias("doc_id"),
                        F.col("content").alias(col),
                    )
                )
            else:
                src = spark.read.parquet(in_path)
            kw = {}
            if args.pdfs and args.password:
                kw["password"] = args.password.encode()
            combined = ingest_fn(
                src, on_bad="skip" if args.skip_bad else "fail", **kw
            )
            docs, media = split_ingest(combined)
            dp = os.path.join(args.out, "documents.parquet")
            mp = os.path.join(args.out, "media.parquet")
            docs.write.mode("overwrite").parquet(dp)
            media.write.mode("overwrite").parquet(mp)
            n_docs = docs.count()
            n_media = media.count()
            n_err = combined.where(F.col("error").isNotNull()).count()
        finally:
            spark.stop()
        print(json.dumps({"documents": dp, "media": mp, "n_docs": n_docs,
                          "n_media": n_media, "n_errors": n_err}))
        return 0 if n_err == 0 else 1

    if args.cmd == "eval":
        from pyspark.sql import functions as F

        from .metrics import rec_metrics_df, span_equality_report
        from .sources.session import get_spark

        spark = get_spark(app="eval", master=args.master)
        try:
            res = _read_spans(spark, args.spans)
            gold = spark.read.parquet(args.golden)
            eq = span_equality_report(res, gold).collect()[0].asDict()
            # text-level A5 metrics over position-aligned spans (order is the
            # dense per-doc index, so (doc_id, order) is the join key)
            flat = lambda df, c: df.select(  # noqa: E731
                "doc_id", F.posexplode("spans_out").alias("i", "s")
            ).select("doc_id", "i", F.col("s.text").alias(c))
            pairs = flat(res, "pred").join(flat(gold, "gt"), ["doc_id", "i"])
            rec = {
                k: (round(v, 6) if isinstance(v, float) else v)
                for k, v in rec_metrics_df(pairs).collect()[0].asDict().items()
            }
        finally:
            spark.stop()
        report = {**eq, "rec": rec}
        print(json.dumps(report))
        return 0 if eq["n_docs"] == eq["n_equal"] else 1

    if args.cmd == "export":
        from .sources import export as X
        from .sources.session import get_spark

        if args.as_of is not None and not args.table:
            print("export: --as-of requires --table (snapshot-log read); "
                  "--spans always exports the live table", file=sys.stderr)
            return 2
        spark = get_spark(app="export", master=args.master)
        try:
            if args.table:
                from .snapshots import read_snapshot

                result = read_snapshot(spark, args.table, args.as_of)
            else:
                result = _read_spans(spark, args.spans)
            writer = {"json": X.write_json, "csv": X.write_csv, "txt": X.write_text,
                      "xlsx": X.write_xlsx, "html": X.write_html}
            writer[args.format](result, args.out)
            n = result.count()
        finally:
            spark.stop()
        print(json.dumps({"format": args.format, "docs": n, "out": args.out}))
        return 0

    if args.cmd == "exif":
        from pyspark.sql import functions as F

        from .functions.multimodal import exif_meta, scrub_gps
        from .sources.session import get_spark

        spark = get_spark(app="exif", master=args.master)
        try:
            media = spark.read.parquet(args.media)
            census = exif_meta(media).agg(
                F.count(F.lit(1)).alias("n_media"),
                F.sum(F.col("has_exif").cast("int")).alias("n_exif"),
                F.sum(F.col("has_gps").cast("int")).alias("n_gps"),
            ).collect()[0]
            rep = {"n_media": census["n_media"],
                   "n_exif": int(census["n_exif"] or 0),
                   "n_gps": int(census["n_gps"] or 0)}
            if args.scrub:
                if not args.out:
                    print("error: --scrub requires --out", file=sys.stderr)
                    return 2
                scrub_gps(media).write.mode("error").parquet(args.out)
                after = exif_meta(spark.read.parquet(args.out)).agg(
                    F.sum(F.col("has_gps").cast("int")).alias("n_gps")
                ).collect()[0]
                rep["scrubbed_to"] = args.out
                rep["n_gps_after"] = int(after["n_gps"] or 0)
            print(json.dumps(rep))
        finally:
            spark.stop()
        return 0

    if args.cmd == "viz":
        from pyspark.sql import functions as F

        from .api import init
        from .sources.session import get_spark
        from .sources.viz import write_viz, write_viz_labeled

        spark = get_spark(app="viz", master=args.master)
        try:
            media = spark.read.parquet(args.media)
            if args.limit:
                media = media.orderBy("media_ref").limit(args.limit)
            if args.labels:
                rep = write_viz_labeled(media, args.out, cfg=_cfg_from(args),
                                        font_size=args.font_size)
            else:
                eng = init(spark, cfg=_cfg_from(args))
                boxes = eng.detect_only(media)
                rep = write_viz(media, boxes, args.out,
                                thickness=args.thickness)
            n_frames, n_boxes = rep.groupBy().agg(
                F.count("*"), F.sum("n_boxes")
            ).collect()[0]
        finally:
            spark.stop()
        print(json.dumps({"frames": n_frames, "boxes": int(n_boxes or 0),
                          "out": args.out}))
        return 0

    if args.cmd == "verify-lineage":
        from .pipeline import verify_lineage
        from .sources.session import get_spark

        spark = get_spark(app="verify-lineage", master=args.master)
        try:
            rep = verify_lineage(spark, args.out)
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0 if rep["ok"] else 1

    if args.cmd == "stats":
        from .pipeline import bucket_stats
        from .sources.session import get_spark

        spark = get_spark(app="stats", master=args.master)
        try:
            rep = bucket_stats(spark, args.out)
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "curate":
        import os

        from .curate import run_curate
        from .sources.session import get_spark

        spark = get_spark(app="curate", master=args.master)
        try:
            rep = run_curate(
                spark, args.docs, args.out, quality=args.quality,
                near_dedup=args.near_dedup, fast_hash=args.fast_hash,
                method=args.method,
            )
        finally:
            spark.stop()
        os.makedirs(args.out, exist_ok=True)
        with open(f"{args.out}/report.json", "w") as f:
            json.dump(rep, f)
        print(json.dumps(rep))
        return 0

    if args.cmd == "upsert":
        from .pipeline import upsert_extract
        from .sources.session import get_spark

        if args.delete and not args.where.strip() and not args.all_docs:
            # an empty --where selects EVERY doc; make a full-table purge
            # an explicit two-flag decision instead of a one-typo accident
            print(
                "upsert --delete with empty --where would purge every doc "
                "in the table; pass --all-docs to confirm or narrow --where",
                file=sys.stderr,
            )
            return 2
        spark = get_spark(app="upsert", master=args.master)
        try:
            rep = upsert_extract(
                spark,
                args.out,
                args.docs,
                media_path=args.media,
                where=args.where,
                cfg=_cfg_from(args),
                delete=args.delete,
            )
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "compact":
        from .pipeline import compact_spans
        from .sources.session import get_spark

        spark = get_spark(app="compact", master=args.master)
        try:
            rep = compact_spans(spark, args.out, target_mb=args.target_mb)
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "snapshots":
        from .snapshots import list_snapshots
        from .sources.session import get_spark

        spark = get_spark(app="snapshots", master=args.master)
        try:
            rep = list_snapshots(spark, args.out)
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "rollback":
        from .snapshots import rollback
        from .sources.session import get_spark

        spark = get_spark(app="rollback", master=args.master)
        try:
            rep = rollback(spark, args.out, args.to)
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "diff":
        from .snapshots import snapshot_changes
        from .sources.session import get_spark

        spark = get_spark(app="diff", master=args.master)
        try:
            rows = snapshot_changes(
                spark, args.out, args.from_id, args.to_id
            ).collect()
        finally:
            spark.stop()
        print(
            json.dumps(
                [
                    {"doc_id": r["doc_id"], "bucket": r["bucket"],
                     "change": r["change"]}
                    for r in rows
                ]
            )
        )
        return 0

    if args.cmd == "expire":
        from .snapshots import expire_snapshots
        from .sources.session import get_spark

        spark = get_spark(app="expire", master=args.master)
        try:
            rep = expire_snapshots(spark, args.out, keep_last=args.keep_last)
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "rebucket":
        from .pipeline import rebucket_spans
        from .sources.session import get_spark

        spark = get_spark(app="rebucket", master=args.master)
        try:
            rep = rebucket_spans(spark, args.out, args.buckets)
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "tag":
        from .snapshots import delete_tag, list_tags, set_tag
        from .sources.session import get_spark

        spark = get_spark(app="tag", master=args.master)
        try:
            if args.name is None:
                rep = list_tags(spark, args.out)
            elif args.delete:
                delete_tag(spark, args.out, args.name)
                rep = {"deleted": args.name}
            else:
                if args.to is None:
                    print("tag: --to SNAPSHOT_ID required to set a tag",
                          file=sys.stderr)
                    return 2
                rep = set_tag(spark, args.out, args.name, args.to)
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "clone":
        from .snapshots import clone_table
        from .sources.session import get_spark

        spark = get_spark(app="clone", master=args.master)
        try:
            rep = clone_table(spark, args.src, args.dst)
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "gc":
        from .snapshots import gc_uncommitted
        from .sources.session import get_spark

        spark = get_spark(app="gc", master=args.master)
        try:
            rep = gc_uncommitted(spark, args.out)
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "lookup":
        from pyspark.sql import functions as F

        from .pipeline import lookup_docs
        from .sources.session import get_spark

        spark = get_spark(app="lookup", master=args.master)
        try:
            if args.history:
                from .snapshots import doc_history

                rep = doc_history(spark, args.out, args.doc_ids.split(","))
            else:
                rows = lookup_docs(
                    spark, args.out, args.doc_ids.split(",")
                ).select(
                    "doc_id", F.size("spans_out").alias("n_spans")
                ).collect()
                rep = {r["doc_id"]: r["n_spans"] for r in rows}
        finally:
            spark.stop()
        print(json.dumps(rep))
        return 0

    if args.cmd == "oracle":
        from .oracle import run_oracle_parquet

        path = run_oracle_parquet(args.docs, args.media, args.out, cfg=_cfg_from(args))
        print(json.dumps({"golden": path}))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
