"""The Spark extraction job: media join → vectorized extract → lineage/resume.

Plan shape (what Catalyst sees, SURVEY.md §3.1) — the one extraction plan:

    scan(documents) → explode → filter(kind='media') → distinct refs
        → repartition → mapInPandas(OCR per distinct frame)   [CPU stage]
    scan(documents) → posexplode(spans) ⋈ ocr(media_ref)      [AQE-planned]
        → hashpartition(bucket) → groupBy(bucket, doc_id)
        → array_sort merge → spans_out → sink + lineage

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
  * Lineage rows (partition_id, doc_count, span_count, checksum) are written
    per completed run; resume anti-joins documents against completed
    buckets (J3 of SURVEY.md §2.3) and processes only the remainder.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .config import ExtractConfig
from . import kernels as K
from . import snapshots

LINEAGE_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("run_id", StringType()),
        StructField("doc_count", LongType()),
        StructField("span_count", LongType()),
        StructField("checksum", LongType()),
    ]
)



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
    import re

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
    ``media_side_path``); remote storage ('://' schemes) shuffles the
    bytes, since the blob is built from a local file."""
    return media_path if "://" not in media_path else None


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

    needed = (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
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
    sp = docs.select(*bucket, "doc_id", F.posexplode_outer("spans").alias("pos", "s"))
    j = sp.join(ocr, sp["s.media_ref"] == ocr["media_ref"], "left")

    is_media = F.col("s.kind") == "media"
    ocr_piece = F.when(
        F.col("lines").isNotNull(),
        F.transform(
            "lines",
            lambda t: F.struct(
                F.lit("ocr_text").alias("kind"),
                t.alias("text"),
                F.col("s.media_ref").alias("media_ref"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<kind:string,text:string,media_ref:string>>"))
    text_piece = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.coalesce(F.col("s.text"), F.lit("")).alias("text"),
            F.lit("").alias("media_ref"),
        )
    )
    pieces = j.select(
        *bucket,
        "doc_id",
        "pos",
        F.when(F.col("s").isNull(), F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string>>"
        ))
        .when(is_media, ocr_piece)
        .otherwise(text_piece)
        .alias("piece"),
        F.coalesce(F.col("s.offset"), F.col("pos")).alias("off"),
        F.coalesce(is_media.cast("int"), F.lit(0)).alias("is_media"),
        F.coalesce(
            (is_media & F.col("lines").isNull()).cast("int"), F.lit(0)
        ).alias("is_missing"),
        F.col("s").isNotNull().cast("int").alias("is_span"),
    )
    if bucket:
        pieces = pieces.repartition(target_parallelism, "bucket")
    grouped = pieces.groupBy(*bucket, "doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("off", "pos", "piece"))),
                lambda x: x["piece"],
            )
        ).alias("flat"),
        F.sum("is_span").cast("int").alias("n_spans_in"),
        F.sum("is_media").cast("int").alias("n_media"),
        F.sum("is_missing").cast("int").alias("n_media_missing"),
        F.sum(F.when(F.col("is_media") == 1, F.size("piece")).otherwise(0))
        .cast("int")
        .alias("n_ocr"),
    )
    spans_out = F.transform(
        "flat",
        lambda x, i: F.struct(
            x["kind"].alias("kind"),
            x["text"].alias("text"),
            x["media_ref"].alias("media_ref"),
            i.cast("int").alias("order"),
        ),
    )
    # \\x02 separator: keeps the field regexes from matching across span
    # boundaries (not \\s, not a word char) while preserving first-match-wins
    # order - equivalent to the oracle's per-span scan
    all_text = F.concat_ws("\x02", F.transform("flat", lambda x: x["text"]))
    map_args = []
    for fname, pat in K.INVOICE_FIELD_PATTERNS.items():
        map_args.append(F.lit(fname))
        map_args.append(F.regexp_extract(all_text, pat, 1))
    fields = F.map_filter(
        F.create_map(*map_args),
        lambda _k, v: v != "",
    )
    return grouped.select(
        "doc_id",
        spans_out.alias("spans_out"),
        fields.alias("invoice_fields"),
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


def lineage_of(result_with_bucket: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage rows. checksum = bit_xor fold of
    xxhash64(doc_id, canonical spans_out json) — order-insensitive and
    overflow-free (Spark 4 ANSI mode makes sum() overflow an error)."""
    return result_with_bucket.groupBy(F.col("bucket").alias("partition_id")).agg(
        F.lit(run_id).alias("run_id"),
        F.count(F.lit(1)).alias("doc_count"),
        F.coalesce(F.sum(F.size("spans_out")), F.lit(0)).cast("long").alias("span_count"),
        F.bit_xor(F.xxhash64("doc_id", F.to_json("spans_out"))).alias("checksum"),
    )


def lineage_frame(spark: SparkSession, rows: list) -> DataFrame:
    """Lineage rows collected on the driver (``lineage_of(...).collect()``)
    as a DataFrame to write. A pandas frame under Arrow plans as a
    driver-local LocalTableScan; a list of Rows plans as a Python-RDD scan
    whose tasks start a second pyspark.daemon and worker pool beside the
    OCR stage's (measured at local[4]: 4 more workers, ~170 MB more PSS,
    1.0–1.4 s more on a session's first write). Arrow needs at least one row; an
    empty run records nothing, so it keeps the plain path."""
    if not rows:
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.createDataFrame(
        pd.DataFrame([tuple(r) for r in rows], columns=LINEAGE_SCHEMA.fieldNames()),
        LINEAGE_SCHEMA,
    )


def completed_buckets(spark: SparkSession, lineage_path: str) -> DataFrame | None:
    """Buckets already extracted (any run)."""
    if not _path_exists(spark, lineage_path):
        return None
    return (
        spark.read.parquet(lineage_path)
        .select(F.col("partition_id").alias("bucket"))
        .distinct()
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    if "://" not in path:
        return os.path.exists(path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


#: bucket layout identifier recorded in the run manifest (sources/tables.py:
#: Iceberg's bucket transform is murmur3-based and assigns doc_ids to
#: DIFFERENT bucket numbers — one table must never mix the two layouts)
BUCKET_LAYOUT = "parquet-xxhash64"


def _check_manifest(spark: SparkSession, out_dir: str, num_buckets: int) -> None:
    """Fail fast when rerunning into an out_dir written under a different
    bucket layout: dynamic partition overwrite only replaces buckets present
    in the NEW result, so a num_buckets change would leave stale partitions
    from the old layout — self-consistent lineage included, meaning a doc
    could appear under two layouts while verify_lineage still reports ok.
    The manifest pins (num_buckets, layout) at first write, through the
    Hadoop FileSystem for '://' out_dirs (hdfs://, s3a://, …) so the guard
    fires on cluster storage too, not only local paths (review finding
    r3). At catalog-managed scale the same record belongs in the table's
    properties."""
    path = os.path.join(out_dir, "_manifest.json")
    if _path_exists(spark, path):
        prev = json.loads(_read_text(spark, path))
        if (
            prev.get("num_buckets") != num_buckets
            or prev.get("layout") != BUCKET_LAYOUT
        ):
            raise ValueError(
                f"out_dir {out_dir!r} was written with "
                f"num_buckets={prev.get('num_buckets')} layout={prev.get('layout')!r}; "
                f"rerunning with num_buckets={num_buckets} layout={BUCKET_LAYOUT!r} "
                "would strand stale bucket partitions. Use a fresh out_dir "
                "(or delete the old one) to change the bucket layout."
            )
        return
    _write_text(
        spark, path, json.dumps({"num_buckets": num_buckets, "layout": BUCKET_LAYOUT})
    )


def _read_manifest(spark: SparkSession, out_dir: str) -> dict:
    """Load and validate the run manifest; a missing manifest means the
    directory was not written by run_extract — a clear ValueError, not a
    raw FileNotFoundError, so CLI callers see what went wrong."""
    path = os.path.join(out_dir, "_manifest.json")
    if not _path_exists(spark, path):
        raise ValueError(
            f"{out_dir!r} has no _manifest.json — not an extract out_dir"
        )
    manifest = json.loads(_read_text(spark, path))
    if manifest.get("layout") != BUCKET_LAYOUT:
        raise ValueError(
            f"out_dir layout {manifest.get('layout')!r} is not {BUCKET_LAYOUT!r}"
        )
    return manifest


def _read_text(spark: SparkSession, path: str) -> str:
    if "://" not in path:
        with open(path) as f:
            return f.read()
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    stream = fs.open(p)
    try:
        out = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            out.append(b)
        return out.decode("utf-8")
    finally:
        stream.close()


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    if "://" not in path:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        return
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def _reconcile_if_committed(spark: SparkSession, out_dir: str) -> dict | None:
    """Run the gc-style crash reconciliation before a batch mutation when
    the table has a snapshot log (ADVICE r4: without this, torn files left
    by a crashed predecessor would be manifested into THIS op's snapshot
    as committed data, and a bucket whose overwrite landed but whose
    commit didn't would read empty behind a stale 'completed' lineage
    row). The streaming path runs the same reconciliation inline per
    micro-batch. Tables without a log (pre-snapshot layouts) are left
    alone — there is no manifest to reconcile against."""
    if snapshots.current_snapshot_id(spark, out_dir) is None:
        return None
    return snapshots.reconcile_to_head(spark, out_dir)


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
    """End-to-end job: read → (resume filter) → extract → bucketed write +
    lineage. Output layout:

        {out_dir}/spans/bucket=N/part-*.parquet   (result, partitioned)
        {out_dir}/lineage/part-*.parquet           (LINEAGE_SCHEMA)

    Returns run stats {run_id, buckets_done, buckets_skipped, docs, secs}.
    """
    cfg = cfg or ExtractConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    spans_dir = os.path.join(out_dir, "spans")
    lineage_dir = os.path.join(out_dir, "lineage")
    _check_manifest(spark, out_dir, num_buckets)
    _reconcile_if_committed(spark, out_dir)

    docs = with_bucket(spark.read.parquet(docs_path), num_buckets)
    media = spark.read.parquet(media_path)

    skipped = 0
    if resume:
        done = completed_buckets(spark, lineage_dir)
        if done is not None:
            skipped = done.count()
            docs = docs.join(done, "bucket", "left_anti")  # J3: resume anti-join

    t0 = time.time()
    # bucketed docs in → bucket-clustered result out (one file per bucket)
    result = extract(docs, media, cfg, media_side_path=media_side_path_for(media_path))
    result.persist()
    try:
        # one pass over the result: its ≤ num_buckets lineage rows carry
        # the doc count and the buckets this run writes
        lineage = lineage_of(result, run_id).collect()
        n_docs = sum(r["doc_count"] for r in lineage)
        written_buckets = [r["partition_id"] for r in lineage]
        # snapshot log: the buckets this run writes are about to have
        # their current files deleted by the dynamic overwrite's commit —
        # hard-link them into the archive first so every prior snapshot
        # stays readable (snapshots.py; cheap: O(files), no data copied)
        snapshots.archive_buckets(spark, out_dir, written_buckets)
        # DYNAMIC partition overwrite, not append: only the bucket
        # partitions present in `result` are replaced; completed buckets
        # (anti-joined out by resume) are untouched. This makes a crash
        # BETWEEN the spans write and the lineage write recoverable — the
        # rerun recomputes the unfinished bucket and replaces its partial
        # partition instead of appending duplicates (lineage is the commit
        # marker, written strictly after the data it describes).
        (
            result.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(spans_dir)
        )
        # lineage mirrors the spans write: dynamic overwrite partitioned by
        # partition_id, so replacing a bucket's data also replaces its
        # lineage row — a rerun (resume or --no-resume) can never leave a
        # stale row describing overwritten data, which would make
        # verify_lineage flag healthy buckets (doubled counts, checksums
        # xor-cancelling). Completed buckets are absent from `result` and
        # keep their rows.
        (
            lineage_frame(spark, lineage)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(lineage_dir)
        )
    finally:
        result.unpersist()
    if written_buckets:
        snap_id = snapshots.commit_snapshot(
            spark,
            out_dir,
            op="extract",
            run_id=run_id,
            summary={"docs": int(n_docs), "buckets_skipped": int(skipped)},
        )["snapshot_id"]
    else:
        # fully-resumed rerun wrote nothing — don't append a no-op
        # snapshot; report the head the table already stands at
        snap_id = snapshots.current_snapshot_id(spark, out_dir)
    secs = time.time() - t0
    return {
        "run_id": run_id,
        "docs": n_docs,
        "buckets_skipped": skipped,
        "secs": round(secs, 3),
        "docs_per_sec": round(n_docs / secs, 3) if secs > 0 else None,
        "out": spans_dir,
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
    (partition pruning on the bucket filter), merged rows go to a temp
    dir first (never read-and-overwrite the same path in one job), then
    land via the same dynamic partition overwrite run_extract uses —
    data first, lineage rows strictly after, so a crash in the window
    leaves verify_lineage flagging exactly the swapped-but-unrecorded
    buckets and a RERUN of the same upsert is idempotent (re-extracting
    a doc already replaced anti-joins it out and writes it again)."""
    cfg = cfg or ExtractConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    spans_dir = os.path.join(out_dir, "spans")
    lineage_dir = os.path.join(out_dir, "lineage")
    manifest = _read_manifest(spark, out_dir)
    num_buckets = int(manifest["num_buckets"])
    _reconcile_if_committed(spark, out_dir)

    docs = with_bucket(spark.read.parquet(docs_path), num_buckets)
    sel = docs.where(where) if where else docs
    affected = [r["bucket"] for r in sel.select("bucket").distinct().collect()]
    if not affected:
        return {"run_id": run_id, "docs": 0, "buckets": 0,
                "deleted": bool(delete), "out": spans_dir}

    if delete:
        new = None
        sel_ids = sel.select("doc_id")
    else:
        if media_path is None:
            raise ValueError("upsert re-extraction requires media_path")
        media = spark.read.parquet(media_path)
        new = extract(sel, media, cfg, media_side_path=media_side_path_for(media_path))
        # join/count on the SELECTION's ids, not the extract output:
        # extract preserves the doc set, and using `new` here would
        # re-evaluate the whole OCR DAG for each count on top of the
        # staging write (3x extraction cost)
        sel_ids = sel.select("doc_id")

    old = spark.read.parquet(spans_dir).where(
        F.col("bucket").isin([int(b) for b in affected])
    )
    n_replaced = old.join(sel_ids, "doc_id", "left_semi").count()
    kept = old.join(sel_ids, "doc_id", "left_anti")
    merged = kept if new is None else kept.unionByName(
        new.select(*kept.columns)
    )

    t0 = time.time()
    tmp = spans_dir + "_upsert_tmp"
    _delete_path(spark, tmp)
    n_new = 0
    # only a purge can stage nothing: a re-extract stages one row per
    # selected doc. Asking `merged` would run the OCR stage just to
    # answer it, since the bucket exchange keeps Catalyst from pruning
    # the OCR join out of a row-count-only plan
    if new is None and kept.isEmpty():
        # a purge that empties EVERY affected bucket stages nothing —
        # parquet cannot round-trip an empty partitioned write, and the
        # dynamic overwrite would be a no-op anyway; fall through to the
        # explicit emptied-bucket deletes below
        staged_buckets: set[int] = set()
        snapshots.archive_buckets(spark, out_dir, affected)
    else:
        # the union of kept and new rows is clustered by nothing: this
        # one exchange puts each bucket in one task, so staging (and the
        # live rewrite, which reads whole small staging files per task)
        # lands one file per bucket. The count is explicit: AQE would
        # coalesce this small shuffle into ONE task that sorts and writes
        # every affected bucket serially (the slowest, least steady stage
        # of the upsert)
        merged.repartition(_target_parallelism(spark), "bucket").write.partitionBy(
            "bucket"
        ).parquet(tmp)
        staged = spark.read.parquet(tmp)
        # invariant gate before touching the live table: one row per doc
        dup = staged.groupBy("doc_id").count().where(F.col("count") > 1).count()
        if dup:
            _delete_path(spark, tmp)
            raise ValueError(
                f"upsert staging has {dup} duplicate doc_ids; table untouched"
            )
        n_new = 0 if new is None else staged.join(
            sel_ids, "doc_id", "left_semi"
        ).count()
        staged_buckets = {
            r["bucket"] for r in staged.select("bucket").distinct().collect()
        }
        # snapshot log: every affected bucket's current files are about to
        # be replaced (dynamic overwrite) or purged (emptied-bucket delete
        # below)
        snapshots.archive_buckets(spark, out_dir, affected)
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(spans_dir)
        )
        (
            lineage_of(staged, run_id)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(lineage_dir)
        )
    # a bucket emptied by deletion has NO staged rows, so dynamic
    # overwrite never touches it — drop its data and lineage explicitly
    for b in affected:
        if b not in staged_buckets:
            _delete_path(spark, os.path.join(spans_dir, f"bucket={b}"))
            _delete_path(
                spark, os.path.join(lineage_dir, f"partition_id={b}")
            )
    _delete_path(spark, tmp)
    snap = snapshots.commit_snapshot(
        spark,
        out_dir,
        op="delete" if delete else "upsert",
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
    from the spans table and compare with the lineage rows. The 10^12-scale
    answer to 'did every partition land, exactly once, uncorrupted?' —
    runs as two scans + one join, no collect of data rows.
    """
    spans_dir = os.path.join(out_dir, "spans")
    lineage_dir = os.path.join(out_dir, "lineage")
    actual = (
        spark.read.parquet(spans_dir)
        .groupBy(F.col("bucket").alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("a_doc_count"),
            F.coalesce(F.sum(F.size("spans_out")), F.lit(0))
            .cast("long")
            .alias("a_span_count"),
            F.bit_xor(F.xxhash64("doc_id", F.to_json("spans_out"))).alias("a_checksum"),
        )
    )
    expected = (
        spark.read.parquet(lineage_dir)
        .groupBy("partition_id")
        .agg(
            F.sum("doc_count").alias("doc_count"),
            F.sum("span_count").alias("span_count"),
            F.bit_xor("checksum").alias("checksum"),
            F.count(F.lit(1)).alias("n_runs"),
        )
    )
    j = expected.join(actual, "partition_id", "full_outer")
    bad = j.where(
        F.col("a_doc_count").isNull()
        | F.col("doc_count").isNull()
        | (F.col("a_doc_count") != F.col("doc_count"))
        | (F.col("a_span_count") != F.col("span_count"))
        | (F.col("a_checksum") != F.col("checksum"))
    )
    n_bad = bad.count()
    n_parts = j.count()
    return {
        "partitions": n_parts,
        "mismatched": n_bad,
        "ok": n_bad == 0,
    }


def _list_parquet_files(spark: SparkSession, d: str) -> list[tuple[str, int]]:
    """(path, bytes) of every parquet data file under ``d``, recursively —
    local os.walk, or the Hadoop FileSystem for '://' paths.

    Hidden path components UNDER ``d`` (leading '_' or '.') are skipped,
    matching Spark's directory-listing filter (ADVICE r4): staging trees
    like ``spans/_temporary/`` left by a crashed in-flight job must not be
    snapshot-manifested or handed to read_snapshot — Spark's own reads
    would never have counted them. (``d`` itself may be a hidden root,
    e.g. the _archive walk; only components below it are filtered.)"""

    def _hidden(relparts) -> bool:
        return any(s and s[0] in "_." for s in relparts)

    if "://" not in d:
        out = []
        for root, dirs, names in os.walk(d):
            dirs[:] = [x for x in dirs if x[0] not in "_."]
            for n in names:
                if n.endswith(".parquet") and n[0] not in "_.":
                    p = os.path.join(root, n)
                    out.append((p, os.path.getsize(p)))
        return out
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(d)
    fs = path.getFileSystem(conf)
    base = path.toUri().getPath().rstrip("/")
    it = fs.listFiles(path, True)
    out = []
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        rel = st.getPath().toUri().getPath()
        rel = rel[len(base):].lstrip("/") if rel.startswith(base) else rel
        if p.endswith(".parquet") and not _hidden(rel.split("/")):
            out.append((p, st.getLen()))
    return out


def _move_path(spark: SparkSession, src: str, dst: str) -> None:
    if "://" not in src:
        os.rename(src, dst)
        return
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src)
    fs = p.getFileSystem(conf)
    if not fs.rename(p, jvm.org.apache.hadoop.fs.Path(dst)):
        raise ValueError(f"rename {src!r} -> {dst!r} failed")


def _delete_path(spark: SparkSession, path: str) -> None:
    if "://" not in path:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).delete(p, True)


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
    an actual file listing (no guessing from row counts). The rewrite
    shuffles on (bucket, slot) where slot = pmod(xxhash64(doc_id, 1),
    n_slots) — deterministic, and a task holds whole slots so each
    bucket directory lands at most n_slots files. Safety protocol:
    write to a temp dir, recompute the per-bucket lineage aggregate on
    BOTH copies and require exact equality (doc_count + span_count +
    checksum), then swap directories (spans → spans_backup → deleted;
    a crash between the two renames leaves spans_backup intact to
    restore). Lineage rows are untouched: content is identical, and the
    checksum is order-insensitive, so verify_lineage passes unchanged
    against the compacted table."""
    spans_dir = os.path.join(out_dir, "spans")
    _read_manifest(spark, out_dir)
    _reconcile_if_committed(spark, out_dir)
    target = int(target_mb) * 1024 * 1024
    per: dict[int, list[int]] = {}
    for path, size in _list_parquet_files(spark, spans_dir):
        m = re.search(r"bucket=(\d+)", path)
        if m is None:
            continue
        st = per.setdefault(int(m.group(1)), [0, 0])
        st[0] += 1
        st[1] += size
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
    df = spark.read.parquet(spans_dir)
    tmp = spans_dir + "_compact_tmp"
    _delete_path(spark, tmp)
    total_slots = int(sum(slots.values()))
    (
        df.join(F.broadcast(slot_df), "bucket", "inner")
        .withColumn("slot", F.pmod(F.xxhash64("doc_id", F.lit(1)), F.col("n_slots")))
        .repartition(max(total_slots, 1), F.col("bucket"), F.col("slot"))
        .drop("n_slots", "slot")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )

    def _digest(d: str) -> list:
        return (
            spark.read.parquet(d)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.coalesce(F.sum(F.size("spans_out")), F.lit(0))
                .cast("long")
                .alias("span_count"),
                F.bit_xor(F.xxhash64("doc_id", F.to_json("spans_out"))).alias(
                    "checksum"
                ),
            )
            .orderBy("bucket")
            .collect()
        )

    if _digest(tmp) != _digest(spans_dir):
        _delete_path(spark, tmp)
        raise ValueError("compaction digest mismatch; original left untouched")
    # snapshot log: compaction rewrites every file — preserve the whole
    # pre-swap tree (hard links) so prior snapshots stay readable
    snapshots.archive_all(spark, out_dir)
    backup = spans_dir + "_backup"
    _delete_path(spark, backup)
    _move_path(spark, spans_dir, backup)
    _move_path(spark, tmp, spans_dir)
    _delete_path(spark, backup)
    files_after = len(_list_parquet_files(spark, spans_dir))
    snap = snapshots.commit_snapshot(
        spark,
        out_dir,
        op="compact",
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
    parquet layout, where the bucket transform is pinned per table
    (_manifest.json) and can otherwise never change (a mixed layout
    would strand stale partitions; see _check_manifest).

    At 10^12 docs the need is real: a table bucketed for yesterday's
    size eventually has buckets too large to task-parallelize or too
    many files to list. The rewrite is one shuffle keyed on (new
    bucket, slot) — compact's slot scheme, so a large bucket spreads
    over ceil(bytes/target) tasks/files instead of one. Safety: the
    expected content digest comes from the COMMITTED lineage rows (a
    k-row aggregate — no pre-scan of the live tree, and torn files
    from a crashed writer can't launder in: any divergence between
    live data and lineage fails the gate; run `gc` first if a crash
    left uncommitted files), the rewrite lands in a temp dir and must
    reproduce that digest, the NEW lineage is also built from the temp
    tree BEFORE any swap (the uncommitted window is just the renames,
    as in compact), then archive → swap → re-pin manifest → commit
    (op=rebucket). Old snapshots remain readable with their ORIGINAL
    bucket numbers (the archived files carry the old layout)."""
    spans_dir = os.path.join(out_dir, "spans")
    lineage_dir = os.path.join(out_dir, "lineage")
    manifest = _read_manifest(spark, out_dir)
    old_buckets = int(manifest["num_buckets"])
    new_buckets = int(new_buckets)
    if new_buckets < 1:
        raise ValueError("new_buckets must be >= 1")
    if new_buckets == old_buckets:
        return {"rewritten": False, "num_buckets": old_buckets}
    run_id = run_id or f"rebucket-{uuid.uuid4().hex[:8]}"
    target = int(target_mb) * 1024 * 1024

    def _content_digest(df) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(
                F.xxhash64("doc_id", F.to_json("spans_out"))
            ).alias("checksum"),
        ).collect()[0]
        return (row["n"], row["checksum"])

    # expected digest from committed lineage (k rows; xor folds across
    # buckets) — the gate that both saves a full pre-scan and refuses to
    # launder torn uncommitted files into the rewrite
    lrow = (
        spark.read.parquet(lineage_dir)
        .agg(
            F.coalesce(F.sum("doc_count"), F.lit(0)).cast("long").alias("n"),
            F.bit_xor("checksum").alias("checksum"),
        )
        .collect()[0]
    )
    before = (lrow["n"], lrow["checksum"])

    total_bytes = sum(
        sz for _, sz in _list_parquet_files(spark, spans_dir)
    )
    # slots per NEW bucket ≈ ceil(expected bucket bytes / target): a big
    # bucket spreads over that many tasks/files (compact's slot scheme)
    n_slots = max(1, -(-total_bytes // (new_buckets * target)))
    df = spark.read.parquet(spans_dir).drop("bucket")
    rewritten = (
        with_bucket(df, new_buckets)
        .withColumn(
            "slot", F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(n_slots))
        )
        .repartition(int(new_buckets * n_slots), F.col("bucket"), F.col("slot"))
        .drop("slot")
    )
    tmp = spans_dir + "_rebucket_tmp"
    _delete_path(spark, tmp)
    rewritten.write.partitionBy("bucket").parquet(tmp)
    staged = spark.read.parquet(tmp)
    if _content_digest(staged) != before:
        _delete_path(spark, tmp)
        raise ValueError(
            "rebucket digest mismatch vs committed lineage; original left "
            "untouched (uncommitted files from a crashed writer? run `gc`)"
        )
    # new-layout lineage from the VERIFIED temp tree, before any swap
    lineage_tmp = lineage_dir + "_rebucket_tmp"
    _delete_path(spark, lineage_tmp)
    lineage_of(staged, run_id).write.partitionBy(
        "partition_id"
    ).parquet(lineage_tmp)

    snapshots.archive_all(spark, out_dir)
    backup = spans_dir + "_backup"
    _delete_path(spark, backup)
    _move_path(spark, spans_dir, backup)
    _move_path(spark, tmp, spans_dir)
    _delete_path(spark, backup)
    lineage_backup = lineage_dir + "_backup"
    _delete_path(spark, lineage_backup)
    _move_path(spark, lineage_dir, lineage_backup)
    _move_path(spark, lineage_tmp, lineage_dir)
    _delete_path(spark, lineage_backup)
    _write_text(
        spark,
        os.path.join(out_dir, "_manifest.json"),
        json.dumps({"num_buckets": new_buckets, "layout": BUCKET_LAYOUT}),
    )
    snap = snapshots.commit_snapshot(
        spark,
        out_dir,
        op="rebucket",
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
    (files per bucket) and for salting (row skew). File counts/bytes come
    from a listing; row counts from the lineage SUMS (no data scan at
    all — the report is O(partitions) however large the table is).
    skew = max/mean of per-bucket rows; >2 is the usual salt-or-split
    signal (AQE handles it at join time, the layout fix is num_buckets
    or salting at write)."""
    spans_dir = os.path.join(out_dir, "spans")
    per: dict[int, list[int]] = {}
    for path, size in _list_parquet_files(spark, spans_dir):
        m = re.search(r"bucket=(\d+)", path)
        if m is None:
            continue
        st = per.setdefault(int(m.group(1)), [0, 0])
        st[0] += 1
        st[1] += size
    rows = {
        r["partition_id"]: r["docs"]
        for r in spark.read.parquet(os.path.join(out_dir, "lineage"))
        .groupBy("partition_id")
        .agg(F.sum("doc_count").alias("docs"))
        .collect()
    }
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
    stats within those. P comes from the run manifest, so callers
    cannot desync from the layout that actually wrote the table."""
    from .xxh import spark_bucket

    ids = list(doc_ids)
    manifest = _read_manifest(spark, out_dir)
    p = int(manifest["num_buckets"])
    buckets = sorted({spark_bucket(d, p) for d in ids})
    return (
        spark.read.parquet(os.path.join(out_dir, "spans"))
        .where(F.col("bucket").isin(buckets))
        .where(F.col("doc_id").isin(ids))
    )
