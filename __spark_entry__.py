"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship OCR-extraction pipeline end-to-end: it builds an
interleaved text+media documents table (input_hint schema) from the driver's
sf0.001 documents parquet plus deterministically synthesized SYNF media
frames, then runs the fused mapInPandas detect→recognize→layout extraction
and returns the resulting span sequences.

``queries``/``oracle_sql`` expose the operator inventory (SURVEY.md §2 plus
the training-data-pipeline suite) with DuckDB-checkable ANSI SQL oracles —
see ai_invoice_ocr_engine_spark/queries.py for the paired implementations.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.fixtures import gen_media
from ai_invoice_ocr_engine_spark.pipeline import extract
from ai_invoice_ocr_engine_spark.queries import REGISTRY

_N_MEDIA = 12


def _interleaved_docs(spark: SparkSession, sf_dir: str):
    """documents(text) → input_hint-shaped interleaved docs: one native text
    span per doc, plus one media span (doc_id % 3 == 0) referencing a
    deterministic synthetic frame."""
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media_rows = gen_media(seed=7, n_media=_N_MEDIA, max_side=480)
    refs = F.array(*[F.lit(m["media_ref"]) for m in media_rows])
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        F.element_at(refs, (F.col("doc_id") % _N_MEDIA + 1).cast("int")).alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    docs = raw.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.array(text_span, media_span))
        .otherwise(F.array(text_span))
        .alias("spans"),
    )
    media_df = spark.createDataFrame(
        [
            (m["media_ref"], m["width"], m["height"], m["image"], m["n_lines"])
            for m in media_rows
        ],
        schema="media_ref string, width int, height int, image binary, n_lines int",
    )
    return docs, media_df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved-document OCR extraction on sf0.001."""
    docs, media = _interleaved_docs(spark, "/root/testdata/sf0.001")
    result = extract(docs, media, ExtractConfig())
    return result.select(
        "doc_id",
        "spans_out",
        "n_spans_in",
        "n_media",
        "n_ocr",
        F.size("spans_out").alias("n_spans_out"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
