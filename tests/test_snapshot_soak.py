"""Randomized mutation-sequence soak over the snapshot layer: a seeded
random walk of upsert / delete / compact / rebucket / rollback / expire
against a Python-side model of expected table state per snapshot. After
every op: the live table equals the model, lineage verifies, and a
randomly chosen RETAINED snapshot time-travels to exactly its modeled
state — catching op-interaction bugs no single-op test sees (the
rollback-across-rebucket manifest pin came out of exactly this walk)."""

import os
import random

from ai_invoice_ocr_engine_spark import snapshots as S
from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.pipeline import (
    compact_spans,
    rebucket_spans,
    run_extract,
    upsert_extract,
    verify_lineage,
)

from .util import fragment_spans, spans_key

NB = 8
#: in-suite default 10; the exit ritual runs an extended pass via
#: SPARK_GRAFT_SOAK_STEPS=40
STEPS = int(os.environ.get("SPARK_GRAFT_SOAK_STEPS", "10"))


def test_randomized_mutation_soak(spark, corpus, tmp_path):
    rng = random.Random(20260821)
    out = str(tmp_path / "out")
    run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        cfg=ExtractConfig(), num_buckets=NB,
        run_id="soak-base",
    )
    spans_dir = os.path.join(out, "spans")
    golden = spans_key(spark.read.parquet(spans_dir).collect())
    pool = sorted(golden)

    expected = dict(golden)
    model = {1: dict(expected)}  # retained snapshot id -> expected state
    ops_run = []

    def ids_sql(ids):
        return ",".join(f"'{i}'" for i in ids)

    for step in range(STEPS):
        op = rng.choice(
            ["delete", "upsert", "upsert", "compact", "rebucket",
             "rollback", "expire"]
        )
        if op == "delete" and len(expected) > 4:
            ids = rng.sample(sorted(expected), rng.randint(1, 3))
            rep = upsert_extract(
                spark, out, corpus["docs_path"],
                where=f"doc_id IN ({ids_sql(ids)})", delete=True,
            )
            for i in ids:
                expected.pop(i)
            model[rep["snapshot_id"]] = dict(expected)
        elif op == "upsert":
            ids = rng.sample(pool, rng.randint(1, 3))
            rep = upsert_extract(
                spark, out, corpus["docs_path"],
                media_path=corpus["media_path"],
                where=f"doc_id IN ({ids_sql(ids)})",
                cfg=ExtractConfig(),
            )
            for i in ids:  # deterministic engine: re-extract == golden
                expected[i] = golden[i]
            model[rep["snapshot_id"]] = dict(expected)
        elif op == "compact":
            # every write leaves one file per bucket: fragment the table
            # (a committed, content-preserving rewrite) so the compaction
            # has small files to merge
            frag = fragment_spans(spark, out)
            model[frag["snapshot_id"]] = dict(expected)
            rep = compact_spans(spark, out, target_mb=1024)
            assert rep["rewritten"] is True, rep
            model[rep["snapshot_id"]] = dict(expected)
        elif op == "rebucket":
            target = rng.choice([4, 8, 16])
            rep = rebucket_spans(spark, out, target)
            if rep["rewritten"]:
                model[rep["snapshot_id"]] = dict(expected)
        elif op == "rollback" and len(model) > 1:
            target = rng.choice(sorted(model))
            rep = S.rollback(spark, out, target)
            expected = dict(model[target])
            model[rep["snapshot_id"]] = dict(expected)
        elif op == "expire" and len(model) > 2:
            keep = rng.randint(2, len(model))
            rep = S.expire_snapshots(spark, out, keep_last=keep)
            model = {k: v for k, v in model.items() if k in rep["kept"]}
        else:
            continue
        ops_run.append(op)

        got = spans_key(spark.read.parquet(spans_dir).collect())
        assert got == expected, f"live table drifted after step {step} {op}"
        assert verify_lineage(spark, out)["ok"], f"lineage after {op}"
        probe = rng.choice(sorted(model))
        assert (
            spans_key(S.read_snapshot(spark, out, probe).collect())
            == model[probe]
        ), f"snapshot {probe} drifted after step {step} {op}"

    # the walk must have actually exercised a mix of ops
    assert len(set(ops_run)) >= 4, ops_run
    # ...including at least one rewriting compaction
    assert "compact" in ops_run, ops_run
    # final sweep: every retained snapshot still reads exactly
    for sid, want in model.items():
        assert spans_key(S.read_snapshot(spark, out, sid).collect()) == want
