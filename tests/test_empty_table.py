"""A table whose every doc was purged is an ordinary state: every read
and every mutator works on it. The spans tree is read with its declared
schema (``snapshots.read_tree``), so a tree with no file reads as an
empty DataFrame instead of failing schema inference."""

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from ai_invoice_ocr_engine_spark import snapshots as S
from ai_invoice_ocr_engine_spark.__main__ import _read_spans
from ai_invoice_ocr_engine_spark.pipeline import (
    bucket_stats,
    committed_lineage,
    extract,
    lookup_docs,
    rebucket_spans,
    run_extract,
    upsert_extract,
    verify_lineage,
    with_bucket,
)
from ai_invoice_ocr_engine_spark.streaming import incremental_extract

from .util import assert_span_equal, spans_key

NB = 4
N_DOCS = 16


@pytest.fixture(scope="module")
def emptied(spark, corpus, tmp_path_factory):
    """A 4-bucket table of 16 docs (snapshot 1), then every doc purged
    (snapshot 2)."""
    d = tmp_path_factory.mktemp("emptied")
    docs_path = str(d / "docs.parquet")
    pq.write_table(pq.read_table(corpus["docs_path"]).slice(0, N_DOCS), docs_path)
    out = str(d / "table")
    run_extract(spark, docs_path, corpus["media_path"], out, num_buckets=NB)
    upsert_extract(spark, out, docs_path, where="1=1", delete=True)
    ids = sorted(r["doc_id"] for r in pq.read_table(docs_path, columns=["doc_id"]).to_pylist())
    return {"out": out, "docs_path": docs_path, "ids": ids, "dir": d}


def _clone(spark, emptied, name):
    dst = str(emptied["dir"] / name)
    S.clone_table(spark, emptied["out"], dst)
    return dst


def _live(spark, out):
    return spans_key(S.read_tree(spark, out).collect())


def test_emptied_table_reads(spark, emptied):
    out, ids = emptied["out"], emptied["ids"]
    assert [s["op"] for s in S.list_snapshots(spark, out)] == ["extract", "delete"]
    assert verify_lineage(spark, out)["ok"]
    assert bucket_stats(spark, out)["docs"] == 0
    assert lookup_docs(spark, out, ids).count() == 0
    head = S.read_snapshot(spark, out)
    assert head.schema.fieldNames() == S.SPANS_SCHEMA.fieldNames()
    assert head.count() == 0
    changes = {r["doc_id"]: r["change"] for r in S.snapshot_changes(spark, out, 1, 2).collect()}
    assert changes == {d: "delete" for d in ids}
    for trail in S.doc_history(spark, out, ids[:3]).values():
        assert [(e["snapshot_id"], e["present"]) for e in trail] == [(1, True), (2, False)]


def test_emptied_table_takes_an_upsert(spark, emptied, corpus, golden_spans):
    out = _clone(spark, emptied, "upsert")
    three = emptied["ids"][:3]
    in_sql = ",".join(f"'{d}'" for d in three)
    r = upsert_extract(
        spark, out, emptied["docs_path"], corpus["media_path"],
        where=f"doc_id IN ({in_sql})",
    )
    assert r["docs"] == 3
    rows = S.read_tree(spark, out).select("doc_id").collect()
    assert sorted(x["doc_id"] for x in rows) == three  # one row per doc_id
    assert_span_equal(_live(spark, out), {d: golden_spans[d] for d in three})
    assert verify_lineage(spark, out)["ok"]


def test_emptied_table_rebuckets(spark, emptied):
    out = _clone(spark, emptied, "rebucket")
    r = rebucket_spans(spark, out, 2)
    assert r["rewritten"] and r["rows"] == 0
    assert S.list_snapshots(spark, out)[-1]["op"] == "rebucket"
    assert S.load_head(spark, out)["num_buckets"] == 2
    assert verify_lineage(spark, out)["ok"]


def test_emptied_table_resumes_and_streams(spark, emptied, corpus, golden_spans, tmp_path):
    want = {d: golden_spans[d] for d in emptied["ids"]}
    out = _clone(spark, emptied, "resume")
    r = run_extract(spark, emptied["docs_path"], corpus["media_path"], out, num_buckets=NB)
    assert (r["docs"], r["buckets_skipped"]) == (N_DOCS, 0)
    assert_span_equal(_live(spark, out), want)
    assert verify_lineage(spark, out)["ok"]

    out = _clone(spark, emptied, "stream")
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pq.read_table(emptied["docs_path"]), str(src / "part-000.parquet"))
    q = incremental_extract(
        spark, str(src), corpus["media_path"], out, str(tmp_path / "ckpt"), num_buckets=NB
    )
    q.awaitTermination(300)
    assert S.list_snapshots(spark, out)[-1]["op"] == "stream-append"
    assert_span_equal(_live(spark, out), want)
    assert verify_lineage(spark, out)["ok"]


def test_declared_read_starts_no_job(spark, emptied):
    """A declared-schema read plans without touching a file; an inferring
    read of the same tree runs a schema-inference job first."""
    sc = spark.sparkContext
    arch = os.path.join(emptied["out"], S.ARCHIVE_DIR)

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("declared", lambda: S.read_tree(spark, arch)) == 0
    missing = str(emptied["dir"])  # holds no table
    assert jobs("missing", lambda: S.read_tree(spark, missing).collect()) == 0
    # committed lineage is a manifest read: no job on a missing table or
    # on a committed one
    assert jobs("lineage", lambda: committed_lineage(spark, missing)) == 0
    assert jobs("committed", lambda: committed_lineage(spark, emptied["out"])) == 0
    assert jobs("inferred", lambda: spark.read.parquet(os.path.join(arch, "spans"))) >= 1
    # the archive holds the purged rows, read back with the declared schema
    assert S.read_tree(spark, arch).count() == N_DOCS


def test_declared_spans_schema_matches_extract(spark, corpus):
    """The declared spans schema is ``extract``'s bucketed output, names
    and types: a change to ``extract``'s select must change it too."""
    docs = with_bucket(spark.read.parquet(corpus["docs_path"]), NB)
    got = extract(docs, spark.read.parquet(corpus["media_path"])).schema
    assert [(f.name, f.dataType.simpleString()) for f in got] == [
        (f.name, f.dataType.simpleString()) for f in S.SPANS_SCHEMA
    ]


def test_cli_spans_input_reads_an_emptied_table(spark, emptied, tmp_path):
    """``export --spans`` and ``eval --spans`` read a table's spans tree
    with its declared schema: an emptied table exports no rows instead of
    failing schema inference. A spans directory outside a table (no
    layout pin beside it) still reads with the schema its files carry."""
    spans = os.path.join(emptied["out"], "spans")
    df = _read_spans(spark, spans)
    assert df.schema == S.SPANS_SCHEMA and df.count() == 0
    archived = _read_spans(spark, os.path.join(emptied["out"], S.ARCHIVE_DIR, "spans"))
    assert archived.count() == N_DOCS

    r = subprocess.run(
        [sys.executable, "-m", "ai_invoice_ocr_engine_spark", "export", "--spans", spans,
         "--out", str(tmp_path / "export"), "--format", "json", "--master", "local[2]"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.splitlines()[-1])["docs"] == 0
