"""Checkpoint-resume tests (SURVEY.md §5.2(5), north_rule): after a partial
run (lineage written for a prefix of bucket partitions), a resumed run skips
completed buckets and the final table equals an uninterrupted run."""

import os

from pyspark.sql import functions as F

from ai_invoice_ocr_engine_spark.pipeline import (
    LINEAGE_SCHEMA,
    extract,
    lineage_of,
    run_extract,
    with_bucket,
)
from ai_invoice_ocr_engine_spark.config import ExtractConfig

from .util import assert_span_equal, spans_key

NB = 8  # few buckets so every bucket is populated at test scale


def test_resume_skips_completed_buckets(spark, corpus, golden_spans, tmp_path):
    out = str(tmp_path / "out")
    cfg = ExtractConfig()

    # --- simulate a killed run: extract only buckets {0,1,2}, write their
    # lineage, as if the job died before the rest ---
    docs_all = with_bucket(spark.read.parquet(corpus["docs_path"]), NB)
    media = spark.read.parquet(corpus["media_path"])
    prefix = docs_all.where(F.col("bucket") <= 2)
    part = with_bucket(extract(prefix, media, cfg), NB)
    part.write.mode("append").partitionBy("bucket").parquet(os.path.join(out, "spans"))
    lineage_of(part, "run-partial").write.mode("append").partitionBy(
        "partition_id"
    ).parquet(os.path.join(out, "lineage"))
    n_prefix = part.count()

    # --- resumed run ---
    stats = run_extract(
        spark,
        corpus["docs_path"],
        corpus["media_path"],
        out,
        cfg=cfg,
        num_buckets=NB,
        resume=True,
        run_id="run-resume",
    )
    assert stats["buckets_skipped"] == 3
    assert stats["docs"] == docs_all.count() - n_prefix  # no recompute

    # --- final table equals the single-process oracle ---
    final = spans_key(spark.read.parquet(os.path.join(out, "spans")).collect())
    assert_span_equal(final, golden_spans)

    # lineage accounting: every bucket exactly once, counts add up
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    per_bucket = lin.groupBy("partition_id").count().collect()
    assert all(r["count"] == 1 for r in per_bucket)
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == docs_all.count()


def test_rerun_is_noop(spark, corpus, tmp_path):
    out = str(tmp_path / "out2")
    s1 = run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        num_buckets=NB, run_id="r1",
    )
    assert s1["buckets_skipped"] == 0 and s1["docs"] > 0
    s2 = run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        num_buckets=NB, run_id="r2",
    )
    assert s2["docs"] == 0  # everything already completed

    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert set(LINEAGE_SCHEMA.fieldNames()) == set(lin.columns)


def test_crash_between_data_and_lineage_no_duplicates(
    spark, corpus, golden_spans, tmp_path
):
    """A run that died AFTER writing a bucket's spans but BEFORE its
    lineage row must be recoverable: the resumed run recomputes that
    bucket and REPLACES the orphaned partition (dynamic partition
    overwrite), so the final table has no duplicates and equals the
    oracle. Lineage is the commit marker; data without lineage is invisible
    to resume and must be safely overwritten."""
    out = str(tmp_path / "out_crash")
    cfg = ExtractConfig()

    docs_all = with_bucket(spark.read.parquet(corpus["docs_path"]), NB)
    media = spark.read.parquet(corpus["media_path"])

    # simulate the crash: bucket 3's spans land on disk, its lineage does NOT
    orphan = with_bucket(
        extract(docs_all.where(F.col("bucket") == 3), media, cfg), NB
    )
    orphan.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(out, "spans")
    )
    # buckets 0-2 completed properly (data + lineage)
    done = with_bucket(
        extract(docs_all.where(F.col("bucket") <= 2), media, cfg), NB
    )
    done.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(out, "spans")
    )
    lineage_of(done, "run-crashed").write.mode("append").partitionBy(
        "partition_id"
    ).parquet(os.path.join(out, "lineage"))

    stats = run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        num_buckets=NB, resume=True,
    )
    assert stats["buckets_skipped"] == 3  # only lineage-marked buckets skip

    final = spark.read.parquet(os.path.join(out, "spans"))
    n_docs_in = spark.read.parquet(corpus["docs_path"]).count()
    assert final.count() == n_docs_in  # every doc exactly once
    assert final.select("doc_id").distinct().count() == n_docs_in
    assert_span_equal(spans_key(final.collect()), golden_spans)


def test_no_resume_rerun_keeps_lineage_consistent(spark, corpus, tmp_path):
    """Code-review r2 finding: a full rerun with --no-resume must REPLACE
    each bucket's lineage row along with its data — stale rows from the
    first run would double verify_lineage's expected counts and
    xor-cancel its checksums, flagging a healthy table."""
    from ai_invoice_ocr_engine_spark.pipeline import verify_lineage

    out = str(tmp_path / "out_rerun")
    run_extract(spark, corpus["docs_path"], corpus["media_path"], out,
                num_buckets=NB, resume=False)
    run_extract(spark, corpus["docs_path"], corpus["media_path"], out,
                num_buckets=NB, resume=False)
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.count() == lin.select("partition_id").distinct().count()
    report = verify_lineage(spark, out)
    assert report["ok"], report


def test_rerun_with_different_num_buckets_fails_fast(spark, corpus, tmp_path):
    """ADVICE r2: dynamic partition overwrite only replaces buckets present
    in the new result, so a num_buckets change on an existing out_dir would
    strand stale partitions (with self-consistent lineage). The run manifest
    pins the layout and the rerun must fail fast."""
    import pytest as _pytest

    from ai_invoice_ocr_engine_spark.pipeline import run_extract

    out = str(tmp_path / "out_nb")
    run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out, num_buckets=8
    )
    with _pytest.raises(ValueError, match="num_buckets=8"):
        run_extract(
            spark, corpus["docs_path"], corpus["media_path"], out, num_buckets=16
        )
    # same layout still resumes cleanly
    stats = run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out, num_buckets=8
    )
    assert stats["docs"] == 0 and stats["buckets_skipped"] == 8


def test_lookup_docs_prunes_partitions_and_matches_full_scan(spark, corpus, tmp_path):
    """Point lookups read only the hash buckets of the requested ids:
    the scan's partition filter carries `bucket`, and results equal the
    brute-force full-scan filter."""
    from pyspark.sql import functions as F

    from ai_invoice_ocr_engine_spark.pipeline import lookup_docs, run_extract
    from ai_invoice_ocr_engine_spark.xxh import spark_bucket

    out = str(tmp_path / "out_lookup")
    run_extract(spark, corpus["docs_path"], corpus["media_path"], out,
                num_buckets=8)
    all_ids = [r["doc_id"] for r in
               spark.read.parquet(corpus["docs_path"]).select("doc_id")
               .orderBy("doc_id").limit(5).collect()]
    got = lookup_docs(spark, out, all_ids)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters" in scan and "bucket" in scan.split(
        "PartitionFilters", 1)[1][:120]
    want = (
        spark.read.parquet(f"{out}/spans")
        .where(F.col("doc_id").isin(all_ids))
    )
    cols = ["doc_id"]
    assert sorted(r["doc_id"] for r in got.select(*cols).collect()) == \
        sorted(r["doc_id"] for r in want.select(*cols).collect())
    assert got.count() == len(all_ids)
    # driver-side bucket math matches the layout: every scanned bucket
    # is one of the requested ids' buckets
    buckets = {spark_bucket(d, 8) for d in all_ids}
    got_buckets = {r["bucket"] for r in got.select("bucket").collect()}
    assert got_buckets <= buckets
