"""Batch-/partition-invariance property tests (SURVEY.md §5.2(4)): the same
corpus must produce the oracle's spans regardless of Arrow batch size or
input partitioning. On the extraction plan the Arrow batch size sets how
many frames share one ``recognize_crop_groups`` GEMM, so this pins the
batched recognition bit-identical to the per-document oracle
(extractor.extract_doc) — padding or batching must never leak into results
(the reference engine's per-image independence)."""

from pyspark.sql import functions as F

from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.pipeline import extract

from .util import assert_span_equal, spans_key


def _run(spark, corpus, ids, batch_size, partitions):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size))
    try:
        docs = (
            spark.read.parquet(corpus["docs_path"])
            .where(F.col("doc_id").isin(ids))
            .repartition(partitions)
        )
        media = spark.read.parquet(corpus["media_path"])
        return spans_key(extract(docs, media, ExtractConfig()).collect())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_batch_and_partition_invariance(spark, corpus, golden_spans):
    # a fixed, deterministic slice is enough for the property — keeps the
    # matrix cheap
    ids = [d["doc_id"] for d in corpus["docs"][:30]]
    want = {k: golden_spans[k] for k in ids}
    for bs, parts in [(32, 4), (1, 4), (7, 1), (64, 8)]:
        assert_span_equal(_run(spark, corpus, ids, bs, parts), want)
