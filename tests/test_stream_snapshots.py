"""Exactly-once streaming ingest via the snapshot log
(streaming/incremental.py + snapshots.py): every micro-batch commits a
snapshot; a replayed batch whose snapshot committed is skipped; torn
appends from a crashed attempt are quarantined before the replay — the
visible table is exactly-once although foreachBatch delivery is
at-least-once."""

import glob
import os
import shutil

import pyarrow.parquet as pq

from ai_invoice_ocr_engine_spark import snapshots as S
from ai_invoice_ocr_engine_spark.streaming import incremental_extract

from .util import assert_span_equal, spans_key


def _run_stream(spark, src, media_path, out, ckpt):
    q = incremental_extract(
        spark, str(src), media_path, out, str(ckpt), trigger_once=True
    )
    q.awaitTermination(300)


def _table(spark, out):
    return spans_key(spark.read.parquet(f"{out}/spans").collect())


def _split_docs(corpus, dst_dir):
    """First/second half of the corpus docs as separate parquet files."""
    t = pq.read_table(corpus["docs_path"])
    mid = t.num_rows // 2
    os.makedirs(dst_dir, exist_ok=True)
    a = os.path.join(dst_dir, "half-a.parquet")
    b = os.path.join(dst_dir, "half-b.parquet")
    pq.write_table(t.slice(0, mid), a)
    pq.write_table(t.slice(mid), b)
    return a, b


def test_checkpoint_loss_replay_is_exactly_once(
    spark, corpus, golden_spans, tmp_path
):
    """Losing the streaming checkpoint replays batch 0 with the same
    batch_id; the committed snapshot makes the replay a no-op instead of
    doubling every row."""
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(corpus["docs_path"], src / "part-000.parquet")
    out = str(tmp_path / "out")

    _run_stream(spark, src, corpus["media_path"], out, tmp_path / "ckpt1")
    log = S.list_snapshots(spark, out)
    assert [s["op"] for s in log] == ["stream-append"]
    assert log[0]["run_id"] == "stream-batch-0"
    clean = _table(spark, out)
    assert_span_equal(
        clean,
        golden_spans,
    )

    # fresh checkpoint → the source replays everything as batch 0 again
    _run_stream(spark, src, corpus["media_path"], out, tmp_path / "ckpt2")
    assert _table(spark, out) == clean, "replayed batch duplicated rows"
    assert [s["op"] for s in S.list_snapshots(spark, out)] == [
        "stream-append"
    ], "replay must not commit a second snapshot"


def test_torn_append_is_quarantined_before_replay(spark, corpus, tmp_path):
    """Crash window: append landed, snapshot did not. The replay must
    remove the uncommitted files before re-appending — otherwise the
    rows double silently."""
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(corpus["docs_path"], src / "part-000.parquet")
    out = str(tmp_path / "out")
    _run_stream(spark, src, corpus["media_path"], out, tmp_path / "ckpt1")
    clean = _table(spark, out)

    # simulate the torn write: duplicate a committed data file under a
    # new (uncommitted) name — valid parquet, duplicate rows
    n_clean = spark.read.parquet(f"{out}/spans").count()
    some = glob.glob(f"{out}/spans/bucket=*/part-*.parquet")[0]
    torn = os.path.join(os.path.dirname(some), "part-torn-attempt.parquet")
    shutil.copy(some, torn)
    assert spark.read.parquet(f"{out}/spans").count() > n_clean  # tear visible

    _run_stream(spark, src, corpus["media_path"], out, tmp_path / "ckpt2")
    assert not os.path.exists(torn), "uncommitted file must be quarantined"
    assert spark.read.parquet(f"{out}/spans").count() == n_clean
    assert _table(spark, out) == clean


def test_checkpoint_loss_with_new_file_appends_only_new_docs(
    spark, corpus, golden_spans, tmp_path
):
    """Review scenario: batch 0 commits; checkpoint is lost; a NEW file
    arrives; the fresh checkpoint delivers old+new together as batch 0
    again. The replay must append exactly the new docs — a batch-id or
    run_id short-circuit would silently drop them."""
    a, b = _split_docs(corpus, str(tmp_path / "halves"))
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(a, src / "part-000.parquet")
    out = str(tmp_path / "out")

    _run_stream(spark, src, corpus["media_path"], out, tmp_path / "ckpt1")
    half1 = _table(spark, out)

    shutil.copy(b, src / "part-001.parquet")  # new data, lost checkpoint
    _run_stream(spark, src, corpus["media_path"], out, tmp_path / "ckpt2")

    got = _table(spark, out)
    assert set(got) > set(half1)
    assert_span_equal(
        got,
        golden_spans,
    )
    # the first half's rows were NOT re-appended (exactly-once per doc)
    n = spark.read.parquet(f"{out}/spans").count()
    assert n == len(got)


def test_stream_into_legacy_dir_without_log_refuses(spark, corpus, tmp_path):
    """Data files but no snapshot log: committed vs torn is undecidable —
    the stream must refuse loudly, not guess."""
    import pyspark.errors

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(corpus["docs_path"], src / "part-000.parquet")
    out = tmp_path / "out"
    legacy = out / "spans" / "bucket=0"
    legacy.mkdir(parents=True)
    shutil.copy(corpus["docs_path"], legacy / "part-legacy.parquet")

    q = incremental_extract(
        spark, str(src), corpus["media_path"], str(out),
        str(tmp_path / "ckpt"), trigger_once=True,
    )
    try:
        q.awaitTermination(300)
        raise AssertionError("stream should have failed")
    except pyspark.errors.exceptions.base.StreamingQueryException as e:
        assert "no snapshot log" in str(e)


def test_incremental_growth_commits_per_batch(
    spark, corpus, golden_spans, tmp_path
):
    """Normal operation: a second file arriving later lands as its own
    batch + snapshot, and the table equals the oracle over both
    halves; snapshot 1 still time-travels to the first half alone."""
    a, b = _split_docs(corpus, str(tmp_path / "halves"))
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(a, src / "part-000.parquet")
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"

    _run_stream(spark, src, corpus["media_path"], out, ckpt)
    half1 = _table(spark, out)

    shutil.copy(b, src / "part-001.parquet")
    _run_stream(spark, src, corpus["media_path"], out, ckpt)

    log = S.list_snapshots(spark, out)
    assert [s["op"] for s in log] == ["stream-append", "stream-append"]
    # the append's manifest is HEAD's files plus the ones it landed
    assert S.load_head(spark, out)["files"] == S._list_tracked(spark, out)
    assert_span_equal(
        _table(spark, out),
        golden_spans,
    )
    # time travel back to the first micro-batch
    assert spans_key(S.read_snapshot(spark, out, 1).collect()) == half1
