"""Checkpoint-resume tests (SURVEY.md §5.2(5), north_rule): after a partial
run (a prefix of bucket partitions committed), a resumed run skips
completed buckets and the final table equals an uninterrupted run."""

import os

import pyarrow.parquet as pq
import pytest

from ai_invoice_ocr_engine_spark import pipeline
from ai_invoice_ocr_engine_spark import snapshots as S
from ai_invoice_ocr_engine_spark.pipeline import (
    committed_lineage,
    run_extract,
)
from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.xxh import spark_bucket

from .util import assert_span_equal, spans_key

NB = 8  # few buckets so every bucket is populated at test scale


def _docs_in_buckets(corpus, path, buckets) -> int:
    """Write the corpus docs whose bucket is in ``buckets`` to ``path``;
    returns how many there are."""
    t = pq.read_table(corpus["docs_path"])
    keep = [spark_bucket(d, NB) in buckets for d in t.column("doc_id").to_pylist()]
    part = t.filter(keep)
    pq.write_table(part, path)
    return part.num_rows


def test_resume_skips_completed_buckets(spark, corpus, golden_spans, tmp_path):
    out = str(tmp_path / "out")
    cfg = ExtractConfig()

    # --- a partial run: only buckets {0,1,2} committed, as if the job
    # had been given their docs and nothing else ---
    prefix = str(tmp_path / "prefix.parquet")
    n_prefix = _docs_in_buckets(corpus, prefix, {0, 1, 2})
    run_extract(spark, prefix, corpus["media_path"], out, cfg=cfg, num_buckets=NB,
                run_id="run-partial")
    assert sorted(committed_lineage(spark, out)) == [0, 1, 2]

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
    n_docs = spark.read.parquet(corpus["docs_path"]).count()
    assert stats["buckets_skipped"] == 3
    assert stats["docs"] == n_docs - n_prefix  # no recompute

    # --- final table equals the single-process oracle ---
    final = spans_key(spark.read.parquet(os.path.join(out, "spans")).collect())
    assert_span_equal(final, golden_spans)

    # lineage accounting: every bucket once, counts add up
    lin = committed_lineage(spark, out)
    assert sorted(lin) == list(range(NB))
    assert sum(v[0] for v in lin.values()) == n_docs


def test_rerun_is_noop(spark, corpus, tmp_path, monkeypatch):
    """A rerun over a table whose every bucket is committed returns
    before any extraction work and commits nothing."""
    out = str(tmp_path / "out2")
    s1 = run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        num_buckets=NB, run_id="r1",
    )
    assert s1["buckets_skipped"] == 0 and s1["docs"] > 0

    def no_extract(*args, **kwargs):
        raise AssertionError("a fully resumed run must not extract")

    monkeypatch.setattr(pipeline, "extract", no_extract)
    s2 = run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        num_buckets=NB, run_id="r2",
    )
    assert s2["docs"] == 0  # everything already completed
    assert s2["buckets_skipped"] == NB
    assert s2["snapshot_id"] == s1["snapshot_id"]
    assert [s["op"] for s in S.list_snapshots(spark, out)] == ["extract"]
    assert sorted(committed_lineage(spark, out)) == list(range(NB))


def test_crash_between_data_and_lineage_no_duplicates(
    spark, corpus, golden_spans, tmp_path, monkeypatch
):
    """A run that died AFTER landing a bucket's spans but BEFORE its
    commit must be recoverable: the resumed run removes the uncommitted
    files, recomputes that bucket, so the final table has no duplicates
    and equals the oracle. The snapshot is the commit marker; data it
    does not record is invisible to resume and must be safely replaced."""
    out = str(tmp_path / "out_crash")
    media = corpus["media_path"]

    # buckets 0-2 completed properly (data + lineage, committed)
    done = str(tmp_path / "done.parquet")
    _docs_in_buckets(corpus, done, {0, 1, 2})
    run_extract(spark, done, media, out, num_buckets=NB, run_id="run-done")

    # simulate the crash: bucket 3's spans land on disk, no commit records them
    orphan = str(tmp_path / "orphan.parquet")
    _docs_in_buckets(corpus, orphan, {3})

    def crash(*args, **kwargs):
        raise RuntimeError("killed before the snapshot commit")

    with monkeypatch.context() as m:
        m.setattr(S, "commit_snapshot", crash)
        with pytest.raises(RuntimeError, match="killed"):
            run_extract(spark, orphan, media, out, num_buckets=NB, run_id="run-crashed")
    assert os.listdir(os.path.join(out, "spans", "bucket=3"))

    stats = run_extract(
        spark, corpus["docs_path"], media, out,
        num_buckets=NB, resume=True,
    )
    assert stats["buckets_skipped"] == 3  # only committed buckets skip

    final = spark.read.parquet(os.path.join(out, "spans"))
    n_docs_in = spark.read.parquet(corpus["docs_path"]).count()
    assert final.count() == n_docs_in  # every doc exactly once
    assert final.select("doc_id").distinct().count() == n_docs_in
    assert_span_equal(spans_key(final.collect()), golden_spans)


def test_no_resume_rerun_keeps_lineage_consistent(spark, corpus, tmp_path):
    """Code-review r2 finding: a full rerun with --no-resume must REPLACE
    each bucket's lineage along with its data — stale entries from the
    first run would double verify_lineage's expected counts and
    xor-cancel its checksums, flagging a healthy table."""
    from ai_invoice_ocr_engine_spark.pipeline import verify_lineage

    out = str(tmp_path / "out_rerun")
    run_extract(spark, corpus["docs_path"], corpus["media_path"], out,
                num_buckets=NB, resume=False)
    run_extract(spark, corpus["docs_path"], corpus["media_path"], out,
                num_buckets=NB, resume=False)
    lin = committed_lineage(spark, out)
    assert sorted(lin) == list(range(NB))
    assert sum(v[0] for v in lin.values()) == spark.read.parquet(corpus["docs_path"]).count()
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
