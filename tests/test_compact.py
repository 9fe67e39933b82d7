"""Small-file compaction (compact_spans): the OPTIMIZE/rewrite_data_files
analog. A fragmented spans table (many appends → many files per bucket)
compacts to the per-bucket target count, content is bit-identical, the
untouched lineage rows still verify, and bucket-pruned lookup still works.
"""

import os

from pyspark.sql import functions as F

from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.pipeline import (
    compact_spans,
    lookup_docs,
    run_extract,
    verify_lineage,
)
from ai_invoice_ocr_engine_spark.tablefs import list_parquet_files as _list_parquet_files

from .util import fragment_spans, spans_key

NB = 8


def _run_fragmented(spark, corpus, out):
    """One extract run, then force fragmentation by rewriting its spans
    as many small files per bucket (simulating many small ingest runs);
    lineage is untouched, so verification still balances."""
    stats = run_extract(
        spark,
        corpus["docs_path"],
        corpus["media_path"],
        out,
        cfg=ExtractConfig(),
        num_buckets=NB,
        run_id="run-base",
    )
    assert stats["docs"] > 0
    fragment_spans(spark, out)
    return os.path.join(out, "spans")


def test_compact_preserves_content_and_lineage(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    spans_dir = _run_fragmented(spark, corpus, out)
    before_files = len(_list_parquet_files(spark, spans_dir))
    assert before_files > NB  # fragmented: multiple files per bucket
    before = spans_key(spark.read.parquet(spans_dir).collect())

    rep = compact_spans(spark, out, target_mb=128)
    assert rep["rewritten"] is True
    assert rep["files_before"] == before_files
    # 128 MB target at test scale → exactly one file per bucket
    assert rep["files_after"] == rep["buckets"]
    assert rep["files_after"] < before_files

    after = spans_key(spark.read.parquet(spans_dir).collect())
    assert after == before
    # lineage untouched and still verifying (order-insensitive checksum)
    assert verify_lineage(spark, out)["ok"]
    # bucket-pruned lookup still resolves through the manifest layout
    some_id = spark.read.parquet(spans_dir).select("doc_id").first()["doc_id"]
    assert lookup_docs(spark, out, [some_id]).count() == 1
    # no temp/backup residue
    assert not os.path.exists(spans_dir + "_compact_tmp")
    assert not os.path.exists(spans_dir + "_backup")

    # idempotent: a second compact is a no-op fast path
    rep2 = compact_spans(spark, out, target_mb=128)
    assert rep2["rewritten"] is False
    assert rep2["files_after"] == rep["files_after"]


def test_compact_splits_by_target_size(spark, corpus, tmp_path):
    """A tiny target forces multiple output files per bucket, bounded by
    the planned slot count."""
    out = str(tmp_path / "out")
    spans_dir = _run_fragmented(spark, corpus, out)
    sizes = {}
    for p, s in _list_parquet_files(spark, spans_dir):
        b = int(p.split("bucket=")[1].split(os.sep)[0])
        sizes[b] = sizes.get(b, 0) + s
    # pick a target that makes the largest bucket want >= 2 files
    target_mb = max(1, max(sizes.values()) // (3 * 1024 * 1024))
    rep = compact_spans(spark, out, target_mb=target_mb)
    want_slots = sum(
        max(1, -(-by // (target_mb * 1024 * 1024))) for by in sizes.values()
    )
    assert rep["files_after"] <= want_slots
    assert verify_lineage(spark, out)["ok"]


def test_bucket_stats_report(spark, corpus, tmp_path):
    """stats: files/bytes from HEAD's file list (equal to the listing),
    docs from lineage sums (no data scan), skew = max/mean of per-bucket
    docs."""
    from ai_invoice_ocr_engine_spark.pipeline import bucket_stats

    out = str(tmp_path / "out")
    run_extract(
        spark,
        corpus["docs_path"],
        corpus["media_path"],
        out,
        cfg=ExtractConfig(),
        num_buckets=NB,
        run_id="run-stats",
    )
    rep = bucket_stats(spark, out)
    n_docs = spark.read.parquet(os.path.join(out, "spans")).count()
    assert rep["docs"] == n_docs
    assert rep["buckets"] == NB
    assert rep["files"] == len(
        _list_parquet_files(spark, os.path.join(out, "spans"))
    )
    assert rep["doc_skew"] >= 1.0
    assert sum(v["docs"] for v in rep["per_bucket"].values()) == n_docs


def test_ops_commands_need_manifest(spark, corpus, tmp_path):
    """upsert/compact/rebucket/lookup on a directory run_extract never
    wrote raise a clear ValueError that names it, not a raw
    FileNotFoundError."""
    import re

    import pytest

    from ai_invoice_ocr_engine_spark.pipeline import (
        compact_spans, lookup_docs, rebucket_spans, upsert_extract,
    )

    bogus = str(tmp_path / "not_an_out_dir")
    os.makedirs(bogus, exist_ok=True)
    named = re.escape(repr(bogus)) + ".*no snapshot log"
    with pytest.raises(ValueError, match=named):
        upsert_extract(spark, bogus, corpus["docs_path"], where="1=1", delete=True)
    with pytest.raises(ValueError, match=named):
        compact_spans(spark, bogus)
    with pytest.raises(ValueError, match=named):
        rebucket_spans(spark, bogus, 4)
    with pytest.raises(ValueError, match=named):
        lookup_docs(spark, bogus, ["x"])
    assert os.listdir(bogus) == []
