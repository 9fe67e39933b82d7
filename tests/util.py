"""Test helpers: canonical span-sequence comparison (BASELINE.json invariant:
exact equality on (kind, text, media_ref, order) per document)."""

from __future__ import annotations


def spans_key(rows) -> dict[str, list[tuple]]:
    """rows: iterable with .doc_id/.spans_out (Spark Rows) or dicts."""
    out = {}
    for r in rows:
        d = r if isinstance(r, dict) else r.asDict(recursive=True)
        spans = d.get("spans_out") or []
        out[d["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans
        ]
    return out


def assert_span_equal(actual: dict, golden: dict):
    assert set(actual) == set(golden), (
        f"doc_id sets differ: only_actual={sorted(set(actual)-set(golden))[:5]} "
        f"only_golden={sorted(set(golden)-set(actual))[:5]}"
    )
    bad = [k for k in golden if actual[k] != golden[k]]
    if bad:
        k = bad[0]
        raise AssertionError(
            f"{len(bad)} docs mismatch; first={k}\n actual={actual[k][:6]}\n golden={golden[k][:6]}"
        )


def fragment_spans(spark, out: str, n_files: int = 32) -> dict:
    """Rewrite the live spans table of ``out`` as many small files per
    bucket — the shape many small ingest runs would leave, since every
    write now lands one file per bucket — with the same rows, and commit
    it as a ``test-fragment`` snapshot. The replaced files are archived
    first, so every earlier snapshot still reads back. Returns the
    commit record."""
    import os
    import shutil

    from ai_invoice_ocr_engine_spark import snapshots

    spans_dir = os.path.join(out, "spans")
    frag = spark.read.parquet(spans_dir).repartition(n_files, "doc_id")
    frag.write.mode("overwrite").partitionBy("bucket").parquet(spans_dir + "_f")
    snapshots.archive_all(spark, out)
    shutil.rmtree(spans_dir)
    os.rename(spans_dir + "_f", spans_dir)
    # commit the fragmented tree: without this, the mutators' start-of-op
    # reconciliation (correctly) flags the out-of-band rewrite as an
    # unrecoverable HEAD divergence
    return snapshots.commit_snapshot(spark, out, op="test-fragment")
