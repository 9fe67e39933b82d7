"""Incremental ingest via Structured Streaming ``foreachBatch``.

The reference is strictly batch (SURVEY.md §2.9 — its only concurrency is an
in-process ThreadPool, /root/reference/engine.py:57-58). At 10^12-doc scale,
new documents arrive continuously; the natural Spark shape is a file/Iceberg
incremental read feeding the SAME batch extraction per micro-batch:

    readStream(documents) → foreachBatch(extract + bucketed append, committed
                                        with its lineage)

Each micro-batch reuses pipeline.extract verbatim, so batch and streaming
paths cannot diverge semantically; exactly-once lands on the streaming
checkpoint (source offsets) PLUS the snapshot log as per-batch commit
marker (snapshots.py): torn appends from a crashed attempt (file landed,
snapshot didn't) are quarantined before each batch, and redelivered docs
are anti-joined against the committed table — so the visible table is
exactly-once per doc even though foreachBatch delivery is at-least-once
and batch ids are checkpoint-scoped (a checkpoint-loss replay that mixes
already-committed docs with newly arrived files appends exactly the new
docs).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import snapshots
from ..config import ExtractConfig
from ..pipeline import (
    commit_buckets,
    extract,
    media_side_path_for,
    stage_buckets,
    with_bucket,
)


def incremental_extract(
    spark: SparkSession,
    docs_stream_dir: str,
    media_path: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig | None = None,
    num_buckets: int = 32,
    trigger_once: bool = True,
):
    """Start (and by default run-once) the incremental extraction stream.

    ``docs_stream_dir``: directory of documents parquet files — new files are
    picked up per micro-batch. Returns the StreamingQuery.
    """
    cfg = cfg or ExtractConfig()
    media = spark.read.parquet(media_path)
    media_side_path = media_side_path_for(media_path)
    schema = spark.read.parquet(docs_stream_dir).schema

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_id = f"stream-batch-{batch_id}"
        # exactly-once over foreachBatch's at-least-once delivery, with
        # the snapshot log as the commit marker (the Iceberg-streaming
        # protocol): a batch is VISIBLE only once its snapshot commits.
        # Two reconciliation steps before any work:
        # (1) quarantine torn writes — any live file the HEAD manifest
        #     does not reference was appended by an attempt that crashed
        #     before its commit; remove it or the re-append doubles rows.
        #     No HEAD + live files = a table this protocol has never
        #     committed (a legacy dir): open_table refuses rather than
        #     guess which files are torn.
        # (2) doc-level idempotence — redelivery is anti-joined against
        #     the doc_ids already visible, so a replayed batch appends
        #     nothing, and a checkpoint-loss replay that MIXES committed
        #     docs with a newly arrived file appends exactly the new
        #     docs (batch ids are checkpoint-scoped; equal batch_id does
        #     NOT mean equal content, so no run_id short-circuit). One
        #     doc_id-column scan per micro-batch; past ~10^8 committed
        #     docs (scan latency rivals the batch interval) swap in the
        #     broadcast Bloom gate (functions/dedup.py bloom_dedup_gate:
        #     one bit_or-aggregate build amortized across batches, probe
        #     is a narrow map — accepting its false-positive drop rate).
        #     Note the stream re-asserts its source: a doc purged via
        #     `upsert --delete` is re-added if its file is replayed —
        #     takedowns must also drop the source file.
        # the batch mutators' open step: the two-sided reconciliation
        # (torn appends removed, HEAD files a crashed mutator deleted
        # restored), and num_buckets checked against HEAD's (or taken as
        # the layout of a fresh out_dir)
        head = snapshots.open_table(spark, out_dir, num_buckets)
        # bucketed docs in → bucket-clustered result out: the append
        # adds one file per bucket this micro-batch touches
        todo = with_bucket(batch_df, num_buckets).join(
            snapshots.read_tree(spark, out_dir).select("doc_id"),
            "doc_id",
            "left_anti",
        )
        if todo.isEmpty():
            return
        lineage = stage_buckets(
            spark, out_dir, extract(todo, media, cfg, media_side_path=media_side_path)
        )
        # an append: no bucket is replaced, so the staged files join the
        # buckets' existing ones and each staged lineage row folds into
        # its bucket's committed entry
        commit_buckets(
            spark, out_dir, head, "stream-append", lineage,
            run_id=run_id,
            summary={
                "batch_id": int(batch_id),
                "docs": int(sum(r["doc_count"] for r in lineage)),
            },
        )

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(docs_stream_dir)
    )
    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_pdf_ingest(
    spark: SparkSession,
    pdf_stream_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    on_bad: str = "fail",
    max_files_per_trigger: int = 32,
    trigger_once: bool = True,
    source: str = "pdf",
    password: bytes = b"",
):
    """Watch a landing directory for raw .pdf (or .html, ``source=
    'html'``) files and incrementally build the two input tables — the
    streaming face of ``sources.ingest``.

        readStream(binaryFile *.pdf) → foreachBatch(ingest_pdfs + append)

    Each micro-batch reuses the SAME parse stage as the batch path, so the
    two cannot diverge. Documents append per batch (doc_ids are unique per
    file, and the streaming checkpoint guarantees each file is processed
    once). Media rows are content-addressed, so cross-batch duplicates are
    dropped with an anti-join against the already-written table; on an
    Iceberg cluster that anti-join becomes ``MERGE INTO ... WHEN NOT
    MATCHED`` keyed on the content hash (idempotent under retries). The
    anti-join reads only the media_ref column — one string per distinct
    asset, not the image bytes.

    Returns the StreamingQuery.
    """
    from ..sources.ingest import ingest_html, ingest_pdfs, split_ingest

    if source not in ("pdf", "html"):
        raise ValueError(f"source must be 'pdf' or 'html', got {source!r}")
    if password and source != "pdf":
        raise ValueError("password applies only to source='pdf'")
    glob = "*.pdf" if source == "pdf" else "*.htm*"
    if source == "pdf" and password:
        def ingest_fn(df, on_bad, _pw=password):
            return ingest_pdfs(df, on_bad=on_bad, password=_pw)
    else:
        ingest_fn = ingest_pdfs if source == "pdf" else ingest_html

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        src = batch_df.select(
            F.regexp_extract(
                F.col("path"), r"([^/]+)\.[A-Za-z]+$", 1
            ).alias("doc_id"),
            F.col("content").alias(source),
        )
        combined = ingest_fn(src, on_bad=on_bad).persist()
        try:
            docs, media = split_ingest(combined, persist=False)
            docs.write.mode("append").parquet(f"{out_dir}/documents.parquet")
            try:
                existing = spark.read.parquet(f"{out_dir}/media.parquet").select(
                    "media_ref"
                )
                media = media.join(existing, "media_ref", "left_anti")
            except AnalysisException:
                pass  # first batch: no media table yet
            media.write.mode("append").parquet(f"{out_dir}/media.parquet")
        finally:
            combined.unpersist()

    reader = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed by the source, but streaming file
        # sources require it stated explicitly
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(pdf_stream_dir)
    )
    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
