"""Multi-process race on the snapshot commit protocol: N workers commit
to the same table simultaneously, each against the same parent. The
exclusive manifest create must admit exactly one writer per snapshot id
— losers fail loudly; no manifest is ever overwritten and the log stays
a gap-free, parseable chain."""

import json
import multiprocessing as mp
import os

from ai_invoice_ocr_engine_spark import snapshots as S

N_WORKERS = 8


def _worker(out_dir, barrier, results, idx):
    # workers are pure-filesystem: commit_snapshot only touches Spark for
    # '://' paths, so a local out_dir needs no SparkSession here
    parent = S.load_head(None, out_dir)
    barrier.wait()
    try:
        snap = S.commit_snapshot(
            None, out_dir, parent, "extract", S._list_tracked(None, out_dir),
            run_id=f"racer-{idx}",
        )
        results[idx] = ("ok", snap["snapshot_id"])
    except ValueError as e:
        assert "concurrent snapshot commit" in str(e)
        results[idx] = ("lost", None)


def test_parallel_commits_never_clobber(tmp_path):
    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, "spans"), exist_ok=True)
    # seed one committed snapshot so every racer starts from the same HEAD
    S.commit_snapshot(
        None, out, S.open_table(None, out, num_buckets=1), "extract",
        S._list_tracked(None, out), run_id="seed",
    )

    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(N_WORKERS)
    mgr = ctx.Manager()
    results = mgr.dict()
    procs = [
        ctx.Process(target=_worker, args=(out, barrier, results, i))
        for i in range(N_WORKERS)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(60)
        assert p.exitcode == 0

    winners = [v for v in results.values() if v[0] == "ok"]
    assert len(results) == N_WORKERS
    assert len(winners) >= 1  # somebody always lands

    # the log is a gap-free chain of distinct, parseable manifests whose
    # recorded ids match their filenames — nobody overwrote anybody
    snap_dir = os.path.join(out, S.SNAP_DIR)
    ids = []
    for name in sorted(os.listdir(snap_dir)):
        if not name.startswith("snap-"):
            continue
        with open(os.path.join(snap_dir, name)) as f:
            doc = json.load(f)
        assert f"snap-{doc['snapshot_id']:08d}.json" == name
        ids.append(doc["snapshot_id"])
    assert ids == list(range(1, len(ids) + 1))
    # every winner's claimed id exists exactly once
    won_ids = sorted(sid for _, sid in winners)
    assert len(set(won_ids)) == len(won_ids)
    assert set(won_ids) <= set(ids)
