"""The bucketed table's one open step (snapshots.open_table) and one commit
tail (pipeline.commit_buckets), seen from the ops that use them: a table
under a ``file://`` URI goes through the Hadoop FileSystem branch of
tablefs and must behave exactly like the same table under a plain path;
after every op HEAD's manifest lists exactly the live files; a rebucket
that crashes before its commit must not leave the next writer on the
uncommitted layout; the streaming append checks HEAD's bucket count like
run_extract does; and an op reads each manifest at most once."""

import glob
import os
import shutil

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from ai_invoice_ocr_engine_spark import snapshots as S
from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.pipeline import (
    committed_lineage,
    compact_spans,
    rebucket_spans,
    run_extract,
    upsert_extract,
    verify_lineage,
)
from ai_invoice_ocr_engine_spark.streaming import incremental_extract

from .util import TablefsCalls, fragment_spans, lineage_tree_files, spans_key

NB = 8


def _ids_sql(ids):
    return ",".join(f"'{i}'" for i in ids)


def _head_is_live(spark, out):
    """HEAD's manifest, after asserting it lists exactly the live files."""
    head = S.load_head(spark, out)
    assert head["files"] == S._list_tracked(spark, out)
    return head


def _walk(spark, corpus, out):
    """run_extract → upsert → delete → fragment + compact → rebucket →
    rollback to the delete, then the table's rows, bucket of every doc,
    snapshot ops and verify_lineage report. No op writes a lineage tree:
    the lineage lives in the snapshot manifests."""
    docs, media = corpus["docs_path"], corpus["media_path"]
    ids = sorted(r.doc_id for r in spark.read.parquet(docs).select("doc_id").collect())
    run_extract(spark, docs, media, out, cfg=ExtractConfig(), num_buckets=NB, run_id="walk")
    assert lineage_tree_files(out) == []
    _head_is_live(spark, out)
    upsert_extract(
        spark, out, docs, media_path=media,
        where=f"doc_id IN ({_ids_sql(ids[:5])})", run_id="walk-upsert",
    )
    assert lineage_tree_files(out) == []
    _head_is_live(spark, out)
    deleted = upsert_extract(
        spark, out, docs, where=f"doc_id IN ({_ids_sql(ids[5:8])})", delete=True,
    )
    assert lineage_tree_files(out) == []
    _head_is_live(spark, out)
    fragment_spans(spark, out)
    _head_is_live(spark, out)
    assert compact_spans(spark, out, target_mb=1024)["rewritten"]
    assert lineage_tree_files(out) == []
    _head_is_live(spark, out)
    assert rebucket_spans(spark, out, 16, run_id="walk-rebucket")["rewritten"]
    assert lineage_tree_files(out) == []
    assert _head_is_live(spark, out)["num_buckets"] == 16
    S.rollback(spark, out, deleted["snapshot_id"])
    assert lineage_tree_files(out) == []
    assert _head_is_live(spark, out)["num_buckets"] == NB
    spans = spark.read.parquet(f"{out}/spans")
    return (
        spans_key(spans.collect()),
        sorted((r.doc_id, r.bucket) for r in spans.select("doc_id", "bucket").collect()),
        [s["op"] for s in S.list_snapshots(spark, out)],
        verify_lineage(spark, out),
    )


def test_file_uri_table_matches_plain_path(spark, corpus, tmp_path):
    plain = _walk(spark, corpus, str(tmp_path / "plain"))
    uri = _walk(spark, corpus, "file://" + str(tmp_path / "uri"))
    assert plain[2] == [
        "extract", "upsert", "delete", "test-fragment", "compact", "rebucket", "rollback",
    ]
    assert plain[3]["ok"]
    assert uri == plain


def test_crashed_rebucket_commit_does_not_strand_the_next_upsert(
    spark, corpus, tmp_path, monkeypatch
):
    out = str(tmp_path / "out")
    docs = corpus["docs_path"]
    run_extract(spark, docs, corpus["media_path"], out, cfg=ExtractConfig(), num_buckets=NB)
    n_docs = spark.read.parquet(docs).count()

    def crash(*args, **kwargs):
        raise RuntimeError("killed before the snapshot commit")

    with monkeypatch.context() as m:
        m.setattr(S, "commit_snapshot", crash)
        with pytest.raises(RuntimeError, match="killed"):
            rebucket_spans(spark, out, 16)

    ids = sorted(r.doc_id for r in spark.read.parquet(docs).select("doc_id").collect())[:10]
    upsert_extract(
        spark, out, docs, media_path=corpus["media_path"],
        where=f"doc_id IN ({_ids_sql(ids)})",
    )
    spans = spark.read.parquet(os.path.join(out, "spans"))
    assert spans.count() == spans.select("doc_id").distinct().count() == n_docs
    assert S.load_head(spark, out)["num_buckets"] == NB
    assert spans.where(F.col("bucket") >= NB).count() == 0
    assert verify_lineage(spark, out)["ok"]


def test_rebucket_retried_after_a_crash_replaces_the_uncommitted_layout(
    spark, corpus, tmp_path, monkeypatch
):
    """A rebucket killed before its commit leaves its new-layout buckets
    live; the retry (which does not reconcile first) must replace them
    all, not add its rows beside them."""
    out = str(tmp_path / "out")
    run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        cfg=ExtractConfig(), num_buckets=NB,
    )

    def crash(*args, **kwargs):
        raise RuntimeError("killed before the snapshot commit")

    with monkeypatch.context() as m:
        m.setattr(S, "commit_snapshot", crash)
        with pytest.raises(RuntimeError, match="killed"):
            rebucket_spans(spark, out, 16)
    assert rebucket_spans(spark, out, 16)["rewritten"]
    spans = spark.read.parquet(os.path.join(out, "spans"))
    n_docs = spark.read.parquet(corpus["docs_path"]).count()
    assert spans.count() == spans.select("doc_id").distinct().count() == n_docs
    assert sum(v[0] for v in committed_lineage(spark, out).values()) == n_docs
    assert verify_lineage(spark, out)["ok"]


def test_stream_refuses_a_num_buckets_other_than_the_pin(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        cfg=ExtractConfig(), num_buckets=NB,
    )
    with pytest.raises(ValueError, match="stale bucket partitions") as batch:
        run_extract(spark, corpus["docs_path"], corpus["media_path"], out, num_buckets=32)

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(corpus["docs_path"], src / "part-000.parquet")
    q = incremental_extract(
        spark, str(src), corpus["media_path"], out, str(tmp_path / "ckpt"),
        num_buckets=32, trigger_once=True,
    )
    with pytest.raises(StreamingQueryException) as stream:
        q.awaitTermination(300)
    assert str(batch.value) in str(stream.value)
    assert [s["op"] for s in S.list_snapshots(spark, out)] == ["extract"]
    assert sorted(os.listdir(os.path.join(out, "spans"))) == [
        f"bucket={b}" for b in range(NB)
    ]


def _committed_duplicate(spark, corpus, tmp_path):
    """A table whose first bucket holds one part file twice, committed as
    a snapshot: its live rows disagree with its lineage. Returns the table,
    that bucket, and the table's data files."""
    out = str(tmp_path / "out")
    run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        cfg=ExtractConfig(), num_buckets=NB,
    )
    bucket_dir = sorted(glob.glob(f"{out}/spans/bucket=*"))[0]
    shutil.copy(
        glob.glob(f"{bucket_dir}/part-*.parquet")[0],
        os.path.join(bucket_dir, "part-duplicate.parquet"),
    )
    S.commit_snapshot(
        spark, out, S.load_head(spark, out), "test-duplicate", S._list_tracked(spark, out)
    )
    return out, int(bucket_dir.rsplit("=", 1)[1]), sorted(glob.glob(f"{out}/*/*/*.parquet"))


def test_upsert_refuses_a_staged_duplicate(spark, corpus, tmp_path):
    """The upsert's one-row-per-doc gate rides its one pass over the staged
    tree: a committed duplicate in an affected bucket stops the upsert
    before the live table changes."""
    out, bucket, files = _committed_duplicate(spark, corpus, tmp_path)
    victim = (
        spark.read.parquet(os.path.join(out, "spans"))
        .where(F.col("bucket") == bucket)
        .first()["doc_id"]
    )
    with pytest.raises(ValueError, match="duplicate doc_ids; table untouched"):
        upsert_extract(
            spark, out, corpus["docs_path"], where=f"doc_id = '{victim}'", delete=True,
        )
    assert [s["op"] for s in S.list_snapshots(spark, out)] == ["extract", "test-duplicate"]
    assert sorted(glob.glob(f"{out}/*/*/*.parquet")) == files


def test_compact_refuses_rows_that_disagree_with_lineage(spark, corpus, tmp_path):
    """Compaction gates its staged rewrite on the committed lineage, not on
    a second digest of the live tree: a committed duplicate (two files in
    one bucket, so compaction has work) is refused, and the table is left
    as it was."""
    out, _, files = _committed_duplicate(spark, corpus, tmp_path)
    with pytest.raises(ValueError, match="compaction digest mismatch"):
        compact_spans(spark, out)
    assert [s["op"] for s in S.list_snapshots(spark, out)] == ["extract", "test-duplicate"]
    assert sorted(glob.glob(f"{out}/*/*/*.parquet")) == files


def test_a_commit_whose_parent_is_no_longer_head_fails_loudly(
    spark, corpus, tmp_path, monkeypatch
):
    """A writer that commits after an op's open takes the id the op's
    commit needs: the op fails on the exclusive publish, its landed files
    stay off HEAD until the next op's open reconciles them away."""
    out = str(tmp_path / "out")
    docs = corpus["docs_path"]
    run_extract(spark, docs, corpus["media_path"], out, cfg=ExtractConfig(), num_buckets=NB)
    victim = sorted(r.doc_id for r in spark.read.parquet(docs).select("doc_id").collect())[0]
    real = S.commit_snapshot

    def racing(spark, out_dir, parent, *args, **kwargs):
        real(spark, out_dir, parent, "other-writer", parent["files"])
        return real(spark, out_dir, parent, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(S, "commit_snapshot", racing)
        with pytest.raises(ValueError, match="concurrent snapshot commit"):
            upsert_extract(spark, out, docs, where=f"doc_id = '{victim}'", delete=True)
    assert [s["op"] for s in S.list_snapshots(spark, out)] == ["extract", "other-writer"]
    assert S.load_head(spark, out)["files"] != S._list_tracked(spark, out)

    assert not compact_spans(spark, out)["rewritten"]
    _head_is_live(spark, out)
    assert verify_lineage(spark, out)["ok"]
    assert S.read_tree(spark, out).where(F.col("doc_id") == victim).count() == 1


def test_run_extract_refuses_data_files_without_a_log(spark, corpus, tmp_path):
    """Data files but no snapshot log: committed and torn files cannot be
    told apart, so the open refuses before the reconciliation could
    delete them."""
    out = tmp_path / "out"
    legacy = out / "spans" / "bucket=0"
    legacy.mkdir(parents=True)
    shutil.copy(corpus["docs_path"], legacy / "part-legacy.parquet")
    before = sorted(glob.glob(f"{out}/**", recursive=True))
    with pytest.raises(ValueError, match="data files but no snapshot log"):
        run_extract(spark, corpus["docs_path"], corpus["media_path"], str(out), num_buckets=NB)
    assert sorted(glob.glob(f"{out}/**", recursive=True)) == before


def test_a_missing_manifest_is_refused_on_both_branches(spark, tmp_path):
    """Loading a manifest that is not there reads it without a probe: a
    plain path and a ``file://`` URI (the Hadoop branch) give the same
    "not found" error."""
    for out in (str(tmp_path / "plain"), "file://" + str(tmp_path / "uri")):
        with pytest.raises(ValueError, match="snapshot 3 not found"):
            S.load_snapshot(spark, out, 3)


def test_an_op_reads_each_manifest_once(spark, corpus, tmp_path, monkeypatch):
    """At HEAD >= 9 (a delta chain of 9 manifests), a delete and an upsert
    each list ``_snapshots`` once, read every manifest at most once with
    no existence probe before the read, and list the whole ``spans`` tree
    once (the open's reconciliation; the commit derives its file list from
    HEAD's). A fully resumed run_extract reads each manifest at most once
    too, and probes nothing. No op touches a ``_manifest.json``."""
    out = str(tmp_path / "out")
    docs, media = corpus["docs_path"], corpus["media_path"]
    run_extract(spark, docs, media, out, cfg=ExtractConfig(), num_buckets=NB)
    for _ in range(8):
        head = S.load_head(spark, out)
        S.commit_snapshot(spark, out, head, "test-noop", head["files"])
    assert S.current_snapshot_id(spark, out) == 9
    ids = sorted(r.doc_id for r in spark.read.parquet(docs).select("doc_id").collect())
    ops = [
        lambda: upsert_extract(spark, out, docs, where=f"doc_id = '{ids[0]}'", delete=True),
        lambda: upsert_extract(spark, out, docs, media, where=f"doc_id = '{ids[1]}'"),
    ]
    for op in ops:
        chain = S.current_snapshot_id(spark, out)
        with monkeypatch.context() as m:
            calls = TablefsCalls(m, out)
            op()
        assert calls.of("list_names") == {S.SNAP_DIR: 1}
        reads = calls.of("read_text")
        assert len(reads) == chain and set(reads.values()) == {1}
        assert calls.of("list_parquet_files")["spans"] == 1
        assert not any("_manifest.json" in rel for _, rel in calls.calls)
        # no existence probe of a manifest: the two left are the spans
        # and staging reads' roots
        exists = calls.of("exists")
        assert sum(exists.values()) <= 2
        assert not any(rel.startswith(S.SNAP_DIR) for rel in exists)
    assert S.current_snapshot_id(spark, out) == 11
    _head_is_live(spark, out)

    with monkeypatch.context() as m:
        calls = TablefsCalls(m, out)
        r = run_extract(spark, docs, media, out, cfg=ExtractConfig(), num_buckets=NB)
    assert (r["docs"], r["snapshot_id"]) == (0, 11)
    assert set(calls.of("read_text").values()) == {1}
    assert not calls.of("exists")
    assert not any("_manifest.json" in rel for _, rel in calls.calls)
    assert not os.path.exists(os.path.join(out, "_manifest.json"))
