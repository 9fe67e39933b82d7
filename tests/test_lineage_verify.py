"""Lineage integrity verification: recomputed per-bucket checksums must match
the committed lineage; a corrupted/short output must be flagged."""

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ai_invoice_ocr_engine_spark import snapshots as S
from ai_invoice_ocr_engine_spark.pipeline import committed_lineage, run_extract, verify_lineage


def test_verify_lineage_ok_and_detects_corruption(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    stats = run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        num_buckets=8, run_id="vl",
    )
    assert stats["docs"] > 0
    rep = verify_lineage(spark, out)
    assert rep["ok"] and rep["partitions"] == 8

    # corrupt: drop one bucket directory entirely
    victim = sorted(
        d for d in os.listdir(os.path.join(out, "spans")) if d.startswith("bucket=")
    )[0]
    shutil.rmtree(os.path.join(out, "spans", victim))
    rep2 = verify_lineage(spark, out)
    assert not rep2["ok"] and rep2["mismatched"] >= 1


@pytest.fixture(scope="module")
def table(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lineage_verify") / "table")
    run_extract(spark, corpus["docs_path"], corpus["media_path"], out, num_buckets=8)
    return out


def _change_one_span(spark, out):
    """Rewrite one bucket's file with one span's text changed: the same
    doc and span counts, a different checksum."""
    path = sorted(glob.glob(os.path.join(out, "spans", "bucket=*", "*.parquet")))[0]
    t = pq.ParquetFile(path).read()
    rows = t.to_pylist()
    span = next(s for r in rows for s in r["spans_out"] if s["text"])
    span["text"] += "!"
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), path)


def _drop_one_lineage_partition(spark, out):
    """A data bucket with no lineage entry: a commit of HEAD's lineage
    without its first bucket."""
    lin = committed_lineage(spark, out)
    head = S.load_head(spark, out)
    S.commit_snapshot(
        spark, out, head, "test-drop", head["files"],
        lineage={b: v for b, v in lin.items() if b != min(lin)},
    )


@pytest.mark.parametrize("corrupt", [_change_one_span, _drop_one_lineage_partition])
def test_verify_lineage_flags_a_bucket_that_differs(spark, table, tmp_path, corrupt):
    out = str(tmp_path / "table")
    shutil.copytree(table, out)
    assert verify_lineage(spark, out) == {"partitions": 8, "mismatched": 0, "ok": True}
    corrupt(spark, out)
    assert verify_lineage(spark, out) == {"partitions": 8, "mismatched": 1, "ok": False}
