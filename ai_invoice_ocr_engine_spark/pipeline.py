"""The Spark extraction job: media join → vectorized extract → lineage/resume.

Plan shape (what Catalyst sees, SURVEY.md §3.1) — the one extraction plan:

    scan(documents) → explode → filter(kind='media') → distinct refs
        → repartition → mapInPandas(OCR per distinct frame)   [CPU stage]
    scan(documents) → posexplode(spans) ⋈ ocr(media_ref)      [AQE-planned]
        → hashpartition(bucket) → groupBy(bucket, doc_id)
        → array_sort merge → spans_out
        → staged write → lineage folded from the staged files
        → land the files → commit (the manifest carries the lineage)

Scale design decisions:
  * The Python boundary is crossed ONCE per distinct media frame — a single
    fused mapInPandas does decode→detect→recognize→layout (SURVEY.md §4;
    the JVM↔Python Arrow tax is the dominant cost per the CIDR'22 UDF
    paper). Duplicate occurrences of a frame are expanded in Catalyst.
  * Frame bytes reach the OCR stage either through a semi join + byte
    shuffle, or via a once-per-node mmap blob with only ref strings
    shuffling (``media_side_path``). That is the only delivery switch;
    batch, upsert and streaming pick it from the media path's scheme
    (``media_side_path_for``).
  * Skew: OCR cost is keyed by media_ref, not doc_id, so the frame
    repartition before the OCR stage is the skew treatment.
  * Write clustering: the writers hand ``extract`` docs that carry their
    ``bucket`` (``with_bucket``), and the doc-side merge shuffles on that
    bucket instead of doc_id — the same one exchange — so each bucket's
    rows sit in one task and every bucketed write lands one file per
    bucket. Unbucketed docs (the library API, oracle/eval) group by
    doc_id as before.
  * Every bucket mutator takes three steps: ``snapshots.open_table``
    (returns HEAD's manifest, the op's one read of table state) →
    ``stage_buckets`` (one write into ``_staging``, lineage rows
    (partition_id, doc_count, span_count, checksum) folded from the files
    that landed) → ``commit_buckets`` (archive, land the files, commit a
    snapshot against that HEAD whose manifest records each bucket's
    lineage). Every check of the table reads the committed lineage from
    HEAD's manifest, no Spark job; resume anti-joins documents against
    its buckets (J3 of SURVEY.md §2.3) and processes only the
    remainder.
"""

from __future__ import annotations

import functools
import operator
import os
import re
import sys
import time
import uuid
import zipimport
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from .config import ExtractConfig
from . import kernels as K
from . import snapshots, tablefs
from .snapshots import read_tree

#: per-python-worker media side-input cache (the reference's config-hash
#: singleton pattern, /root/reference/engine.py:17-21 — load once per worker
#: process, reuse across Arrow batches and tasks)
_MEDIA_SIDE_CACHE: dict[str, dict] = {}


def build_media_blob(media_parquet: str, cache_dir: str | None = None) -> str:
    """Materialize the media table as a flat blob + JSON index, once per
    node (driver-side in local mode; on a cluster this is the standard
    per-executor-host shared cache, e.g. on /dev/shm or local SSD).

    Why not have each python worker read the parquet itself: N workers each
    decoding/materializing the full table means an N×table-size first-touch
    memory burst — measured here (Firecracker VM, lazy host paging) that
    serializes catastrophically (32 concurrent 350 MB loads → 70+ s each).
    A single flat file accessed via mmap is faulted into the page cache
    ONCE per node and shared read-only by every worker at zero copy.
    """
    import hashlib
    import json

    # Accept both a single parquet file and a directory-style parquet (the
    # shape Spark itself writes): a dir expands to its sorted part files so
    # `extract --media <spark-written-dir>` works with blob delivery, not
    # only via the byte-shuffle path.
    if os.path.isdir(media_parquet):
        parts = sorted(
            os.path.join(dp, fn)
            for dp, _dirs, fns in os.walk(media_parquet)
            for fn in fns
            if fn.endswith(".parquet")
        )
        if not parts:
            raise ValueError(f"no .parquet part files under {media_parquet!r}")
    else:
        parts = [media_parquet]
    h = hashlib.md5()
    for p in parts:
        st = os.stat(p)
        h.update(f"{os.path.basename(p)}|{st.st_size}|{int(st.st_mtime)};".encode())
    cache_dir = cache_dir or os.path.join(
        os.path.dirname(os.path.abspath(media_parquet)), ".blob_cache"
    )
    os.makedirs(cache_dir, exist_ok=True)
    tag = h.hexdigest()[:16]
    blob_path = os.path.join(cache_dir, f"media_{tag}.blob")
    idx_path = blob_path + ".idx.json"
    if os.path.exists(blob_path) and os.path.exists(idx_path):
        return blob_path
    import pyarrow.parquet as pq

    index: dict[str, tuple[int, int]] = {}
    tmp_blob = blob_path + ".tmp"
    with open(tmp_blob, "wb") as f:
        for part in parts:
            pf = pq.ParquetFile(part)
            for batch in pf.iter_batches(columns=["media_ref", "image"], batch_size=256):
                refs = batch.column("media_ref").to_pylist()
                for ref, img in zip(refs, batch.column("image")):
                    b = img.as_py()
                    index[ref] = (f.tell(), len(b))
                    f.write(b)
    with open(idx_path + ".tmp", "w") as f:
        json.dump(index, f)
    os.replace(idx_path + ".tmp", idx_path)
    os.replace(tmp_blob, blob_path)
    return blob_path


class _BlobLookup:
    """Read-only media_ref -> bytes-like view over an mmap'd blob."""

    def __init__(self, blob_path: str):
        import json
        import mmap as _mmap

        with open(blob_path + ".idx.json") as f:
            self._index = json.load(f)
        self._f = open(blob_path, "rb")
        self._mm = _mmap.mmap(self._f.fileno(), 0, access=_mmap.ACCESS_READ)
        self._view = memoryview(self._mm)

    def get(self, ref: str):
        ent = self._index.get(ref)
        if ent is None:
            return None
        off, ln = ent
        return self._view[off : off + ln]


def _load_media_side(blob_path: str) -> _BlobLookup:
    lookup = _MEDIA_SIDE_CACHE.get(blob_path)
    if lookup is None:
        lookup = _BlobLookup(blob_path)
        _MEDIA_SIDE_CACHE.clear()  # hold at most one blob per worker
        _MEDIA_SIDE_CACHE[blob_path] = lookup
    return lookup


OCR_FRAME_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("lines", ArrayType(StringType())),
    ]
)


def _ocr_frame_batches(
    batches: Iterator[pd.DataFrame],
    cfg: ExtractConfig,
    weights_bc,
    media_side_path: str | None = None,
) -> Iterator[pd.DataFrame]:
    """Per-FRAME OCR: media_ref[+image] → flat reading-order line texts.

    Two byte-delivery modes: an ``image`` column in the Arrow batch (bytes
    rode the shuffle), or ``media_side_path`` (batch carries only refs; the
    bytes come zero-copy from the per-node mmap blob — no byte shuffle, no
    Arrow byte transfer). Refs absent from the blob emit no row, exactly
    like the semi join dropping them."""
    from .extractor import assemble_frame_lines, frame_geometry

    # Once per task, in the worker: PySpark's worker runs
    # importlib.invalidate_caches() before each task, which on CPython 3.11
    # makes every cached zipimporter re-read its archive (pyspark.zip holds
    # 1,328 entries; ~150 ms CPU per task on a 4-vCPU x86 box). zipimport
    # keeps parsed directories in _zip_directory_cache, so a dropped finder
    # that an import needs again is rebuilt without a re-read.
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    weights = weights_bc.value
    blob = _load_media_side(media_side_path) if media_side_path is not None else None
    for pdf in batches:
        if blob is not None:
            pairs = ((ref, blob.get(ref)) for ref in pdf["media_ref"])
        else:
            pairs = zip(pdf["media_ref"], pdf["image"])
        # phase 1 — per-frame geometry (decode → gates → detect → crop);
        # per-frame error semantics live here
        refs, groups, geoms = [], [], []
        for ref, raw in pairs:
            if raw is None:
                if blob is not None:
                    # ref absent from the blob — same as the semi join
                    # dropping it; the doc-side left join records it missing
                    continue
                # shuffle path: a NULL image column is corrupt input — fail
                # loudly rather than silently dropping the frame's lines
                raise ValueError(f"media row {ref!r} has NULL image bytes")
            try:
                crops, boxes, oh = frame_geometry(bytes(raw), cfg)
            except (ValueError, NotImplementedError) as e:
                if cfg.on_bad_media == "skip":
                    # emit no row: the doc-side left join records the frame
                    # missing, identical to a ref absent from the media table
                    continue
                raise type(e)(f"media_ref {ref!r}: {e}") from e
            refs.append(ref)
            groups.append(crops)
            geoms.append((boxes, oh))
        # phase 2 — ONE recognition GEMM for the whole Arrow batch
        # (bit-identical to per-frame recognition: recognize_crop_groups)
        rec_kw = dict(
            h=cfg.rec.h, mw=cfg.rec.mw, min_w=cfg.rec.min_w,
            decode=cfg.rec.decode, beam_width=cfg.rec.beam_width,
        )
        try:
            batch_ts = K.recognize_crop_groups(groups, weights, **rec_kw)
        except (ValueError, NotImplementedError):
            # a frame past geometry still owns on_bad_media semantics
            # (review r4s5): isolate the offender by per-frame rerun —
            # property-pinned bit-identical to the batched pass — so skip
            # drops ONLY that frame and fail names its media_ref
            batch_ts, keep = [], []
            for k, crops in enumerate(groups):
                try:
                    batch_ts.append(
                        K.recognize_crop_groups([crops], weights, **rec_kw)[0]
                    )
                    keep.append(k)
                except (ValueError, NotImplementedError) as e:
                    if cfg.on_bad_media == "skip":
                        continue
                    raise type(e)(f"media_ref {refs[k]!r}: {e}") from e
            refs = [refs[k] for k in keep]
            geoms = [geoms[k] for k in keep]
        # phase 3 — per-frame layout assembly (same skip/fail contract)
        lines_out, refs_out = [], []
        for ref, (boxes, oh), ts in zip(refs, geoms, batch_ts):
            try:
                lines = (
                    assemble_frame_lines(boxes, ts, oh, cfg)
                    if len(boxes) else []
                )
            except (ValueError, NotImplementedError) as e:
                if cfg.on_bad_media == "skip":
                    continue
                raise type(e)(f"media_ref {ref!r}: {e}") from e
            refs_out.append(ref)
            lines_out.append([t for line in lines for (t, _sc) in line])
        yield pd.DataFrame({"media_ref": refs_out, "lines": lines_out})


def _media_plan_transforms_bytes(media: DataFrame) -> bool:
    """True when the media DataFrame's plan COMPUTES its image column
    (resize_frames etc.) rather than scanning it — blob mode would silently
    OCR the on-disk originals instead (ADVICE r2 #3). Detection: an Alias
    defining `image` in the analyzed plan, or any Python-evaluation node
    (mapInPandas / pandas UDF / row UDF) upstream of it."""
    if "image" not in media.columns:
        return False
    plan = media._jdf.queryExecution().analyzed().toString()
    if re.search(r"AS image#\d", plan):
        return True
    return any(
        marker in plan
        for marker in (
            "MapInPandas",
            "ArrowEvalPython",
            "BatchEvalPython",
            "FlatMapGroupsInPandas",
            "MapElements",
        )
    )


def media_side_path_for(media_path: str) -> str | None:
    """The one delivery rule for jobs that read media from a path: a local
    parquet is served from the per-node blob (``extract``'s
    ``media_side_path``); a path with a URI scheme (hdfs://, s3a://,
    file:) shuffles the bytes, since the blob is built from a plain local
    file."""
    return None if tablefs.has_scheme(media_path) else media_path


def _target_parallelism(spark: SparkSession) -> int:
    """Task count of the job's explicit-count exchanges: every core, or
    the configured shuffle partitions if that is more. An explicit count
    also keeps AQE from coalescing a small shuffle into one serial task."""
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )


def extract(
    docs: DataFrame,
    media: DataFrame,
    cfg: ExtractConfig | None = None,
    media_side_path: str | None = None,
    media_strategy: str = "auto",
) -> DataFrame:
    """documents × media → extracted span sequences, one row per doc_id
    (doc_id, spans_out, invoice_fields, n_spans_in, n_media,
    n_media_missing, n_ocr).

    Python is crossed once per DISTINCT media frame (an 8 k-occurrence /
    2.4 k-frame corpus does 3.7× less OCR than a per-document plan, and a
    10^12-doc web corpus reuses frames far more). Everything else is pure
    Catalyst:

        media ⋉ needed_refs → mapInPandas(OCR per frame)   [CPU stage]
        docs → posexplode_outer(spans) ⋈ ocr(media_ref)     [AQE-planned]
        groupBy(doc_id) → array_sort by (offset, pos) → flatten
        → dense `order` via transform index → fields via regexp_extract

    When ``docs`` carries a ``bucket`` column (``with_bucket``, as every
    writer passes it), the merge is hash-partitioned by bucket into the
    same shuffle-partition count P and grouped by (bucket, doc_id); the
    output then keeps ``bucket`` as its last column. That exchange
    replaces the doc_id one (Spark sees it satisfies the aggregate), so
    each bucket's rows sit in one task and a ``partitionBy("bucket")``
    write lands one file per bucket instead of one per task per bucket.
    The trade-off: the merge/write stage runs at most min(P, distinct
    buckets) busy tasks, placed by hash (32 buckets on 4 partitions
    measured 10/10/7/5 per task; on 32 partitions only 18 were
    non-empty). At cluster width keep ``num_buckets`` ≥ cores
    (``rebucket_spans`` changes it).

    Byte delivery (two modes): with ``media_side_path`` only ref STRINGS
    shuffle and workers read bytes zero-copy from a once-per-node mmap blob
    (image bytes never shuffle and never cross JVM→Arrow→Python — measured
    2–3× faster at full core width); without it, frame bytes take one
    balance repartition into the OCR stage (the general path when the
    media table exceeds node-local storage). CONSTRAINT on blob mode: the
    bytes OCR'd are read from the parquet at ``media_side_path``; the
    ``media`` DataFrame only gates WHICH refs run. If you transform image
    bytes in the DataFrame (e.g. resize_frames), pass
    ``media_side_path=None`` so the transformed bytes ride the shuffle —
    otherwise the on-disk originals are used. Either way only small text
    flows through the doc-side join. The reading-order/boilerplate
    semantics live in the frame UDF (shared kernels), so output is
    bit-identical to the per-document oracle (extractor.extract_doc) —
    each duplicate occurrence of a frame expands to the same lines, exactly
    as the reference engine recomputes it per document (its engine.py:49-55
    is a pure function).

    ``media_strategy`` accepts only 'auto'/'frames': the per-document
    'broadcast'/'join' plans were removed.
    """
    # compatibility keyword: perfbench/run.py (frozen with the benchmark) passes it
    if media_strategy not in ("auto", "frames"):
        raise ValueError(
            f"media_strategy={media_strategy!r}: the per-document "
            "'broadcast'/'join' plans were removed; extract runs one "
            "frame-deduplicated plan"
        )
    cfg = cfg or ExtractConfig()
    spark = docs.sparkSession
    sc = spark.sparkContext
    target_parallelism = _target_parallelism(spark)
    weights_bc = sc.broadcast(K.resolve_weights(cfg.rec))

    # The plan's expressions are SQL text: the JVM parses each string in one
    # py4j call, where a Column-DSL tree costs a round trip or more per node,
    # and every extract, upsert and stream batch pays the build on the driver.
    needed = (
        docs.selectExpr("explode(spans) AS s")
        .where("s.kind = 'media'")
        .selectExpr("s.media_ref AS media_ref")
        .distinct()
    )
    blob_path = None
    if media_side_path is not None:
        # Blob mode: ONLY ref strings shuffle; every byte of image data goes
        # scan→blob once per node, then zero-copy mmap into each worker.
        # Eliminates the byte shuffle AND the JVM→Arrow→Python byte copies —
        # the plan's remaining bandwidth tax at full core width.
        if _media_plan_transforms_bytes(media):
            raise ValueError(
                "media_side_path (blob mode) reads image bytes from the "
                "on-disk parquet, but this media DataFrame COMPUTES its "
                "image column (e.g. resize_frames) — the transformed bytes "
                "would be silently ignored. Pass media_side_path=None so "
                "the transformed bytes ride the shuffle."
            )
        blob_path = build_media_blob(media_side_path)
        # The `media` DataFrame still gates WHICH refs run (a caller may
        # have filtered it); the gate joins ref strings only, never bytes —
        # keeping blob delivery semantically identical to the byte shuffle.
        needed = needed.join(media.select("media_ref"), "media_ref", "left_semi")
        # round-robin with explicit N: AQE coalesces a REPARTITION_BY_COL of
        # this tiny string-only shuffle into ONE task (measured: the whole
        # OCR stage serialized, 100 s vs 17 s), but respects an explicit
        # numPartitions round-robin — which also balances frame counts
        # exactly
        frames = needed.repartition(target_parallelism)
    else:
        frames = media.select("media_ref", "image").join(needed, "media_ref", "left_semi")
        # Hash-repartition the surviving frames before OCR. Measured tradeoff:
        # skipping this (scan splits feed OCR directly) leaves the CPU-bound
        # OCR stage at the scan's split count with per-split cost skew — a
        # straggler split holds the whole stage (58.7 s vs 23.0 s at the 20 k
        # bench tier). The byte shuffle is cheap relative to OCR compute; at
        # cluster scale the same holds because shuffle bandwidth per node ≫
        # OCR throughput per node, and AQE skew-split handles any oversized
        # shuffle partition.
        frames = frames.repartition(target_parallelism, "media_ref")
    ocr = frames.mapInPandas(
        lambda it: _ocr_frame_batches(it, cfg, weights_bc, blob_path),
        OCR_FRAME_SCHEMA,
    )

    bucket = ["bucket"] if "bucket" in docs.columns else []
    sp = docs.selectExpr(*bucket, "doc_id", "posexplode_outer(spans) AS (pos, s)")
    j = sp.join(ocr, F.expr("s.media_ref = media_ref"), "left")
    no_pieces = "CAST(array() AS array<struct<kind:string,text:string,media_ref:string>>)"
    pieces = j.selectExpr(
        *bucket,
        "doc_id",
        "pos",
        f"""CASE WHEN s IS NULL THEN {no_pieces}
            WHEN s.kind = 'media' THEN
              CASE WHEN lines IS NOT NULL THEN transform(lines, t -> named_struct(
                'kind', 'ocr_text', 'text', t, 'media_ref', s.media_ref))
              ELSE {no_pieces} END
            ELSE array(named_struct(
              'kind', 'text', 'text', coalesce(s.text, ''), 'media_ref', ''))
            END AS piece""",
        "coalesce(s.offset, pos) AS off",
        "coalesce(CAST(s.kind = 'media' AS int), 0) AS is_media",
        "coalesce(CAST(s.kind = 'media' AND lines IS NULL AS int), 0) AS is_missing",
        "CAST(s IS NOT NULL AS int) AS is_span",
    )
    if bucket:
        pieces = pieces.repartition(target_parallelism, "bucket")
    grouped = pieces.groupBy(*bucket, "doc_id").agg(
        F.expr(
            "flatten(transform(array_sort(collect_list(struct(off, pos, piece))),"
            " x -> x.piece)) AS flat"
        ),
        F.expr("CAST(sum(is_span) AS int) AS n_spans_in"),
        F.expr("CAST(sum(is_media) AS int) AS n_media"),
        F.expr("CAST(sum(is_missing) AS int) AS n_media_missing"),
        F.expr("CAST(sum(CASE WHEN is_media = 1 THEN size(piece) ELSE 0 END) AS int) AS n_ocr"),
    )
    # \x02 separator: keeps the field regexes from matching across span
    # boundaries (not \s, not a word char) while preserving first-match-wins
    # order - equivalent to the oracle's per-span scan. The patterns go in
    # as raw literals (r'...': no escape processing; none holds a quote).
    all_text = "concat_ws('\\u0002', transform(flat, x -> x.text))"
    fields = ", ".join(
        f"'{name}', regexp_extract({all_text}, r'{pat}', 1)"
        for name, pat in K.INVOICE_FIELD_PATTERNS.items()
    )
    return grouped.selectExpr(
        "doc_id",
        "transform(flat, (x, i) -> named_struct('kind', x.kind, 'text', x.text,"
        " 'media_ref', x.media_ref, 'order', i)) AS spans_out",
        f"map_filter(map({fields}), (k, v) -> v != '') AS invoice_fields",
        "n_spans_in",
        "n_media",
        "n_media_missing",
        "n_ocr",
        *bucket,
    )


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    """partition_id = pmod(xxhash64(doc_id), P) — FIXTURES.md §4."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    )


def lineage_of(result_with_bucket: DataFrame, *extra) -> DataFrame:
    """Per-partition lineage rows — the table's one digest: the staged
    files' lineage (``stage_buckets``) and ``verify_lineage``'s recount of
    the live tree fold through here. checksum = bit_xor fold of
    xxhash64(doc_id, canonical spans_out json) — order-insensitive and
    overflow-free (Spark 4 ANSI mode makes sum() overflow an error).
    ``extra`` aggregates ride the same pass (upsert's duplicate gate)."""
    return result_with_bucket.groupBy(F.col("bucket").alias("partition_id")).agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.coalesce(F.sum(F.size("spans_out")), F.lit(0)).cast("long").alias("span_count"),
        F.bit_xor(F.xxhash64("doc_id", F.to_json("spans_out"))).alias("checksum"),
        *extra,
    )


def _by_bucket(lineage: list) -> dict[int, tuple]:
    """Lineage rows keyed by bucket: {partition_id: (doc_count,
    span_count, checksum)}."""
    return {
        r["partition_id"]: (r["doc_count"], r["span_count"], r["checksum"])
        for r in lineage
    }


def committed_lineage(spark: SparkSession, out_dir: str) -> dict[int, tuple]:
    """The committed lineage: {bucket: (doc_count, span_count, checksum)}
    as HEAD's manifest records it, equal to ``lineage_of`` over the
    bucket's live rows when lineage equals data. A manifest read, no Spark
    job; a table with no snapshot log, or an emptied one, gives {}."""
    head = snapshots.current_snapshot_id(spark, out_dir)
    return {} if head is None else snapshots.load_snapshot(spark, out_dir, head)["lineage"]


def _staging(out_dir: str) -> str:
    """Where a mutator stages its rows for ``commit_buckets``; each
    ``snapshots.open_table`` starts it empty."""
    return os.path.join(out_dir, snapshots.STAGING_DIR)


def _staged(out_dir: str) -> str:
    return os.path.join(_staging(out_dir), "spans")


def stage_buckets(spark: SparkSession, out_dir: str, rows: DataFrame) -> list:
    """The one staging step of every bucket mutator, between
    ``snapshots.open_table`` and ``commit_buckets``: write the
    bucket-clustered ``rows`` once into ``_staged(out_dir)`` and return
    the lineage rows of the files that landed (plus ``ids``, distinct
    doc_ids per bucket, for upsert's gate). Folding lineage from the files
    rather than the plan runs the plan once with nothing cached."""
    rows.write.partitionBy("bucket").parquet(_staged(out_dir))
    return lineage_of(
        read_tree(spark, _staging(out_dir)), F.count_distinct("doc_id").alias("ids"),
    ).collect()


def commit_buckets(
    spark: SparkSession,
    out_dir: str,
    head: dict,
    op: str,
    lineage: list | None,
    replaced=(),
    num_buckets: int | None = None,
    run_id: str | None = None,
    summary: dict | None = None,
) -> dict:
    """The one commit tail of every bucket mutator. The op has opened the
    table (``snapshots.open_table``) and staged its spans rows
    (``stage_buckets``); ``lineage`` holds the staged files' lineage
    rows, collected on the driver (``None`` keeps the table's
    lineage: compaction rewrites files, not content). The table's new
    lineage is HEAD's less the ``replaced`` buckets, with each staged row
    folded in — counts summed, checksums xored, so a bucket that is not
    replaced (the streaming append) adds to its entry. ``head`` is the
    HEAD manifest the open returned. The steps, which are also the
    protocol's crash points:

    1. archive the live spans files of the ``replaced`` buckets, so every
       earlier snapshot still reads back;
    2. land spans: delete each replaced bucket, then move every staged
       file into its bucket — renames, no pass over the data. A replaced
       bucket that got no rows stays dropped (a purge); a bucket not
       replaced gains files (the streaming append);
    3. commit the snapshot against ``head`` — the commit marker, whose one
       manifest publish records the files and the new lineage together.
       The file list is HEAD's less the replaced buckets plus the files
       step 2 moved: no listing of the live tree. ``num_buckets`` is the
       layout the staged rows were written under (rebucket); ``None``
       keeps HEAD's.

    A crash before step 3, or a commit that loses to a writer that
    committed after ``head`` was opened, leaves the live tree off HEAD,
    and the next ``open_table`` reconciles it back (``reconcile_to_head``:
    landed files removed, deleted ones restored from the archive). Returns
    the commit record."""
    replaced = {int(b) for b in replaced}
    if lineage is not None:
        table = {b: v for b, v in head["lineage"].items() if b not in replaced}
        for b, (docs, spans, checksum) in _by_bucket(lineage).items():
            d0, s0, c0 = table.get(b, (0, 0, 0))
            table[b] = (d0 + docs, s0 + spans, c0 ^ checksum)
        lineage = table
    snapshots.archive_buckets(spark, out_dir, replaced)
    live, staged = os.path.join(out_dir, "spans"), _staged(out_dir)
    for b in replaced:
        tablefs.delete(spark, os.path.join(live, f"bucket={b}"))
    files = [f for f in head["files"] if snapshots.bucket_of(f[0]) not in replaced]
    for rel, size in tablefs.list_parquet_files(spark, staged):
        tablefs.move(spark, os.path.join(staged, rel), os.path.join(live, rel))
        files.append([f"spans/{rel}", size])
    snap = snapshots.commit_snapshot(
        spark, out_dir, head, op, files, lineage,
        num_buckets=num_buckets, run_id=run_id, summary=summary,
    )
    tablefs.delete(spark, _staging(out_dir))
    return snap


def run_extract(
    spark: SparkSession,
    docs_path: str,
    media_path: str,
    out_dir: str,
    cfg: ExtractConfig | None = None,
    num_buckets: int = 32,
    resume: bool = True,
    run_id: str | None = None,
) -> dict:
    """End-to-end job: read → (resume filter) → extract → bucketed write,
    committed with its lineage. Output layout:

        {out_dir}/spans/bucket=N/part-*.parquet   (result, partitioned)
        {out_dir}/_snapshots/snap-*.json          (commits; each manifest
                                                   carries the per-bucket lineage)

    Returns run stats {run_id, docs, buckets_skipped, secs, docs_per_sec,
    out, snapshot_id}.
    """
    cfg = cfg or ExtractConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    head = snapshots.open_table(spark, out_dir, num_buckets)

    done = sorted(head["lineage"]) if resume else []
    skipped = len(done)
    t0 = time.time()
    lineage = []
    # a table whose every bucket is committed has nothing to extract: no
    # media blob, no plan, no staging write
    if skipped < num_buckets:
        # J3: resume skips the completed buckets
        docs = with_bucket(spark.read.parquet(docs_path), num_buckets).where(
            ~F.col("bucket").isin(done)
        )
        media = spark.read.parquet(media_path)
        # bucketed docs in → bucket-clustered result out (one file per
        # bucket); its ≤ num_buckets lineage rows carry the doc count and
        # the buckets this run writes
        lineage = stage_buckets(
            spark, out_dir,
            extract(docs, media, cfg, media_side_path=media_side_path_for(media_path)),
        )
    n_docs = sum(r["doc_count"] for r in lineage)
    if lineage:
        # the written buckets are REPLACED, rows and lineage entry alike
        # (completed buckets, anti-joined out by resume, are untouched):
        # a rerun without resume replaces each bucket instead of adding
        # its rows a second time
        snap_id = commit_buckets(
            spark, out_dir, head, "extract", lineage,
            replaced=[r["partition_id"] for r in lineage],
            run_id=run_id,
            summary={"docs": int(n_docs), "buckets_skipped": int(skipped)},
        )["snapshot_id"]
    else:
        # fully-resumed rerun staged nothing — don't append a no-op
        # snapshot; report the head the table already stands at
        tablefs.delete(spark, _staging(out_dir))
        snap_id = head["snapshot_id"]
    secs = time.time() - t0
    return {
        "run_id": run_id,
        "docs": n_docs,
        "buckets_skipped": skipped,
        "secs": round(secs, 3),
        "docs_per_sec": round(n_docs / secs, 3) if secs > 0 else None,
        "out": os.path.join(out_dir, "spans"),
        "snapshot_id": snap_id,
    }


def upsert_extract(
    spark: SparkSession,
    out_dir: str,
    docs_path: str,
    media_path: str | None = None,
    where: str = "",
    cfg: ExtractConfig | None = None,
    run_id: str | None = None,
    delete: bool = False,
) -> dict:
    """Targeted MERGE INTO for the bucketed spans table — the Iceberg
    row-level-update analog a 10^12-doc corpus needs when a codec fix,
    config change, or takedown affects a SUBSET of documents and a full
    re-extract is off the table.

    ``where`` is a SQL boolean over the docs table selecting the target
    rows (e.g. ``doc_id IN (...)`` or ``lang = 'mix'``). With
    ``delete=False`` the selected docs are re-extracted and their rows
    replace existing ones (docs new to the table are inserted — upsert);
    with ``delete=True`` their rows are purged (the GDPR/takedown path —
    no media needed).

    Scale + safety shape: only AFFECTED bucket partitions are read
    (partition pruning on the bucket filter); their merged rows are
    written once, to the staging tree (never read-and-overwrite the same
    path in one job), checked for one row per doc_id, and moved into
    place by ``commit_buckets`` — the staged rows ARE the new buckets.
    A RERUN of the same upsert is idempotent (re-extracting a doc already
    replaced anti-joins it out and writes it again)."""
    if not delete and media_path is None:
        raise ValueError("upsert re-extraction requires media_path")
    cfg = cfg or ExtractConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    spans_dir = os.path.join(out_dir, "spans")
    head = snapshots.open_table(spark, out_dir)

    t0 = time.time()
    docs = with_bucket(spark.read.parquet(docs_path), head["num_buckets"])
    sel = docs.where(where) if where else docs
    # one pass over the selection: the buckets it touches and its distinct
    # doc_ids per bucket — a re-extract stages exactly one row per doc_id
    n_sel = {
        r["bucket"]: r["ids"]
        for r in sel.groupBy("bucket").agg(F.count_distinct("doc_id").alias("ids")).collect()
    }
    affected = sorted(n_sel)
    if not affected:
        return {"run_id": run_id, "docs": 0, "buckets": 0,
                "deleted": bool(delete), "secs": round(time.time() - t0, 3),
                "out": spans_dir,
                "snapshot_id": head["snapshot_id"]}

    sel_ids = sel.select("doc_id")
    kept = (
        read_tree(spark, out_dir)
        .where(F.col("bucket").isin(affected))
        .join(sel_ids, "doc_id", "left_anti")
    )
    if delete:
        merged, n_new = kept, 0
    else:
        media = spark.read.parquet(media_path)
        new = extract(sel, media, cfg, media_side_path=media_side_path_for(media_path))
        merged = kept.unionByName(new.select(*kept.columns))
        n_new = sum(n_sel.values())
    # the affected buckets' rows before the upsert, from their committed
    # lineage (open_table reconciled the data to it): no count of the data
    n_old = sum(head["lineage"][b][0] for b in affected if b in head["lineage"])

    # the union of kept and new rows is clustered by nothing: this one
    # exchange puts each bucket in one task, so staging lands one file per
    # bucket. The count is explicit: AQE would coalesce this small shuffle
    # into ONE task that sorts and writes every affected bucket serially
    # (the slowest, least steady stage of the upsert)
    lineage = stage_buckets(
        spark, out_dir, merged.repartition(_target_parallelism(spark), "bucket")
    )
    # the invariant gate before touching the live table: one row per doc.
    # A purge that empties every affected bucket stages no row, and so no
    # lineage row: commit_buckets drops those buckets' entries
    dup = sum(r["doc_count"] - r["ids"] for r in lineage)
    if dup:
        tablefs.delete(spark, _staged(out_dir))
        raise ValueError(
            f"upsert staging has {dup} duplicate doc_ids; table untouched"
        )
    n_replaced = n_old - (sum(r["doc_count"] for r in lineage) - n_new)
    snap = commit_buckets(
        spark, out_dir, head, "delete" if delete else "upsert", lineage,
        replaced=affected,
        run_id=run_id,
        summary={
            "replaced": int(n_replaced),
            "new": int(n_new),
            "buckets": len(affected),
        },
    )
    secs = time.time() - t0
    return {
        "run_id": run_id,
        "docs": int(n_new) if not delete else int(n_replaced),
        "buckets": len(affected),
        "deleted": bool(delete),
        "secs": round(secs, 3),
        "out": spans_dir,
        "snapshot_id": snap["snapshot_id"],
    }


def verify_lineage(spark: SparkSession, out_dir: str) -> dict:
    """Operational integrity check: recompute per-bucket counts/checksums
    from the spans table and compare with the committed lineage. The
    10^12-scale answer to 'did every partition land, exactly once,
    uncorrupted?' — one scan of the data, folded to ≤ num_buckets rows
    and compared on the driver with HEAD's manifest lineage; no collect
    of data rows. A bucket on one side only is a mismatch.
    """
    actual = _by_bucket(lineage_of(read_tree(spark, out_dir)).collect())
    expected = committed_lineage(spark, out_dir)
    buckets = set(actual) | set(expected)
    absent = (None, None, None)
    n_bad = 0
    for b in buckets:
        a, e = actual.get(b, absent), expected.get(b, absent)
        # a null comparison is not a mismatch (as in a SQL WHERE)
        n_bad += a[0] is None or e[0] is None or any(
            x != y for x, y in zip(a, e) if x is not None and y is not None
        )
    return {
        "partitions": len(buckets),
        "mismatched": n_bad,
        "ok": n_bad == 0,
    }


def _bucket_files(files: list) -> dict[int, list[int]]:
    """{bucket: [files, bytes]} of a manifest-style file list: the census
    compaction and ``bucket_stats`` take of HEAD's files, rebucket of the
    live listing."""
    per: dict[int, list[int]] = {}
    for rel, size in files:
        b = snapshots.bucket_of(rel)
        if b is not None:
            st = per.setdefault(b, [0, 0])
            st[0] += 1
            st[1] += size
    return per


def compact_spans(
    spark: SparkSession, out_dir: str, target_mb: int = 128
) -> dict:
    """Small-file compaction for the bucketed spans table — the
    OPTIMIZE / rewrite_data_files analog. Long-running ingestion appends
    one file per run or streaming micro-batch into each ``bucket=N``
    partition it touches; at 10^12 docs the accumulated small files
    dominate scan planning time and NameNode/manifest pressure long
    before data size does.

    Per bucket, the target file count is ceil(bucket_bytes/target) from
    HEAD's file list (no guessing from row counts, no listing). The rewrite
    shuffles on (bucket, slot) where slot = pmod(xxhash64(doc_id, 1),
    n_slots) — deterministic, and a task holds whole slots so each
    bucket directory lands at most n_slots files. Safety protocol: the
    rewrite is staged, its staged files' lineage must equal the committed
    lineage per bucket exactly (doc_count + span_count + checksum), and
    only then does ``commit_buckets`` move it into place: a table whose
    live rows disagree with its lineage is refused, not compacted. The
    commit carries the lineage unchanged: content is identical, and the
    checksum is order-insensitive, so verify_lineage passes unchanged
    against the compacted table."""
    head = snapshots.open_table(spark, out_dir)
    target = int(target_mb) * 1024 * 1024
    per = _bucket_files(head["files"])
    files_before = sum(st[0] for st in per.values())
    slots = {b: max(1, -(-st[1] // target)) for b, st in per.items()}
    stats = {
        "buckets": len(per),
        "files_before": files_before,
        "bytes": sum(st[1] for st in per.values()),
        "target_mb": int(target_mb),
    }
    if all(per[b][0] <= s for b, s in slots.items()):
        return {**stats, "files_after": files_before, "rewritten": False}
    slot_df = spark.createDataFrame(
        [(b, int(s)) for b, s in sorted(slots.items())], "bucket int, n_slots int"
    )
    staged = _staged(out_dir)
    total_slots = int(sum(slots.values()))
    lineage = stage_buckets(
        spark, out_dir,
        read_tree(spark, out_dir)
        .join(F.broadcast(slot_df), "bucket", "inner")
        .withColumn("slot", F.pmod(F.xxhash64("doc_id", F.lit(1)), F.col("n_slots")))
        .repartition(max(total_slots, 1), F.col("bucket"), F.col("slot"))
        .drop("n_slots", "slot"),
    )
    if _by_bucket(lineage) != head["lineage"]:
        tablefs.delete(spark, staged)
        raise ValueError("compaction digest mismatch; original left untouched")
    files_after = len(tablefs.list_parquet_files(spark, staged))
    snap = commit_buckets(
        spark, out_dir, head, "compact", None,
        replaced=list(per),
        summary={"files_before": files_before, "files_after": files_after},
    )
    return {
        **stats,
        "files_after": files_after,
        "rewritten": True,
        "snapshot_id": snap["snapshot_id"],
    }


def rebucket_spans(
    spark: SparkSession,
    out_dir: str,
    new_buckets: int,
    run_id: str | None = None,
    target_mb: int = 128,
) -> dict:
    """Partition evolution: rewrite the spans table under a different
    bucket count — the Iceberg partition-spec-evolution analog for the
    parquet layout, where every manifest records the table's bucket count
    (``snapshots.open_table`` refuses a write under another) and it can
    otherwise never change (a mixed layout would strand stale
    partitions).

    At 10^12 docs the need is real: a table bucketed for yesterday's
    size eventually has buckets too large to task-parallelize or too
    many files to list. The rewrite is one shuffle keyed on (new
    bucket, slot) — compact's slot scheme, so a large bucket spreads
    over ceil(bytes/target) tasks/files instead of one. Safety: the
    expected content digest comes from the COMMITTED lineage (HEAD's
    manifest, k entries — no pre-scan of the live tree), and the table is
    opened without reconciliation, so torn files from a crashed writer
    can't launder in: any divergence between live data and lineage fails
    the gate (run `gc` first if a crash left uncommitted files). The
    rewrite is staged and read ONCE: its lineage rows fold into the gate's
    digest and are the new layout's lineage. Then ``commit_buckets``
    replaces every old bucket and commits (op=rebucket) with the new
    ``num_buckets``: the new layout becomes visible only in that commit,
    so a crash before it leaves HEAD on the old one. Old snapshots remain readable with their ORIGINAL
    bucket numbers (the archived files carry the old layout)."""
    new_buckets = int(new_buckets)
    if new_buckets < 1:
        raise ValueError("new_buckets must be >= 1")
    head = snapshots.open_table(spark, out_dir, reconcile=False)
    old_buckets = head["num_buckets"]
    if new_buckets == old_buckets:
        return {"rewritten": False, "num_buckets": old_buckets}
    run_id = run_id or f"rebucket-{uuid.uuid4().hex[:8]}"
    target = int(target_mb) * 1024 * 1024

    # expected digest from committed lineage (k entries; xor folds across
    # buckets) — the gate that both saves a full pre-scan and refuses to
    # launder torn uncommitted files into the rewrite
    def total(d: dict) -> tuple[int, int]:
        v = d.values()
        return sum(x[0] for x in v), functools.reduce(operator.xor, (x[2] for x in v), 0)

    before = total(head["lineage"])

    # the live listing, not HEAD's files: the unreconciled tree may still
    # hold the buckets of a crashed rebucket's uncommitted layout
    per = _bucket_files(snapshots._list_tracked(spark, out_dir))
    total_bytes = sum(st[1] for st in per.values())
    # slots per NEW bucket ≈ ceil(expected bucket bytes / target): a big
    # bucket spreads over that many tasks/files (compact's slot scheme)
    n_slots = max(1, -(-total_bytes // (new_buckets * target)))
    df = read_tree(spark, out_dir).drop("bucket")
    lineage = stage_buckets(
        spark, out_dir,
        with_bucket(df, new_buckets)
        .withColumn(
            "slot", F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(n_slots))
        )
        .repartition(int(new_buckets * n_slots), F.col("bucket"), F.col("slot"))
        .drop("slot"),
    )
    if total(_by_bucket(lineage)) != before:
        tablefs.delete(spark, _staged(out_dir))
        raise ValueError(
            "rebucket digest mismatch vs committed lineage; original left "
            "untouched (uncommitted files from a crashed writer? run `gc`)"
        )
    snap = commit_buckets(
        spark, out_dir, head, "rebucket", lineage,
        # every live bucket, torn ones included
        replaced=set(per) | set(range(old_buckets)),
        num_buckets=new_buckets,
        run_id=run_id,
        summary={"from_buckets": old_buckets, "to_buckets": new_buckets},
    )
    return {
        "rewritten": True,
        "num_buckets": new_buckets,
        "from_buckets": old_buckets,
        "rows": int(before[0]),
        "snapshot_id": snap["snapshot_id"],
    }


def bucket_stats(spark: SparkSession, out_dir: str) -> dict:
    """Per-bucket layout/skew report — the decision input for ``compact``
    (files per bucket) and for salting (row skew). File counts/bytes and
    row counts come from HEAD's manifest: its file list and lineage (no
    listing, no data scan and no Spark job — the report is O(partitions)
    however large the table is).
    skew = max/mean of per-bucket rows; >2 is the usual salt-or-split
    signal (AQE handles it at join time, the layout fix is num_buckets
    or salting at write)."""
    head = snapshots.load_head(spark, out_dir)
    per = _bucket_files(head["files"])
    rows = {b: d[0] for b, d in head["lineage"].items()}
    buckets = sorted(set(per) | set(rows))
    doc_counts = [int(rows.get(b, 0)) for b in buckets]
    mean = (sum(doc_counts) / len(doc_counts)) if doc_counts else 0.0
    return {
        "buckets": len(buckets),
        "files": sum(st[0] for st in per.values()),
        "bytes": sum(st[1] for st in per.values()),
        "docs": sum(doc_counts),
        "max_files_per_bucket": max((st[0] for st in per.values()), default=0),
        "doc_skew": round(max(doc_counts) / mean, 3) if mean else None,
        "per_bucket": {
            str(b): {
                "files": per.get(b, [0, 0])[0],
                "bytes": per.get(b, [0, 0])[1],
                "docs": int(rows.get(b, 0)),
            }
            for b in buckets
        },
    }


def lookup_docs(spark: SparkSession, out_dir: str, doc_ids) -> DataFrame:
    """Bucket-pruned point lookup over the extracted spans table.

    The layout is ``spans/bucket=pmod(xxhash64(doc_id), P)/``, so a
    doc_id equality predicate maps to exactly one partition directory.
    The buckets are computed DRIVER-SIDE with the repo's bit-compatible
    pure-python xxhash64 (tests/test_xxh.py pins parity) and pushed as a
    partition filter, so the scan lists and reads at most
    ``len(set(buckets))`` of the P directories — at 10^12 docs a 10-doc
    lookup touches ~10/P of the table's files instead of all of them;
    the residual doc_id IN (...) filter prunes row groups via parquet
    stats within those. P comes from HEAD's manifest, so callers cannot
    desync from the layout that actually wrote the table."""
    from .xxh import spark_bucket

    ids = list(doc_ids)
    p = snapshots.load_head(spark, out_dir)["num_buckets"]
    buckets = sorted({spark_bucket(d, p) for d in ids})
    return (
        read_tree(spark, out_dir)
        .where(F.col("bucket").isin(buckets))
        .where(F.col("doc_id").isin(ids))
    )
