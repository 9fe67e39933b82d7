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
    it through the table's commit tail as a ``test-fragment`` snapshot
    (lineage kept; the replaced files archived, so every earlier snapshot
    still reads back). Returns the commit record."""
    import os

    from ai_invoice_ocr_engine_spark import pipeline, snapshots

    head = snapshots.open_table(spark, out)
    frag = spark.read.parquet(os.path.join(out, "spans")).repartition(n_files, "doc_id")
    frag.write.partitionBy("bucket").parquet(pipeline._staged(out))
    return pipeline.commit_buckets(
        spark, out, head, "test-fragment", None, replaced=range(head["num_buckets"])
    )


def lineage_tree_files(out: str) -> list[str]:
    """Parquet files under the table's ``lineage/`` directory: the
    lineage lives in the snapshot manifests, so there must be none."""
    import glob
    import os

    root = os.path.join(out.removeprefix("file://"), "lineage")
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


class TablefsCalls:
    """Counts the table's metadata calls until ``monkeypatch`` is undone:
    every ``tablefs`` function call, as (function name, path relative to
    ``out``), so a test can assert how often an op reads each manifest or
    lists a tree."""

    FUNCS = ("exists", "read_text", "write_text", "list_names",
             "list_parquet_files", "link", "move", "delete")

    def __init__(self, monkeypatch, out: str):
        from collections import Counter

        from ai_invoice_ocr_engine_spark import tablefs

        self.calls = Counter()
        root = out.rstrip("/") + "/"
        for name in self.FUNCS:
            fn = getattr(tablefs, name)

            def counted(spark, path, *args, _name=name, _fn=fn, **kwargs):
                rel = path[len(root):] if path.startswith(root) else path
                self.calls[(_name, rel)] += 1
                return _fn(spark, path, *args, **kwargs)

            monkeypatch.setattr(tablefs, name, counted)

    def of(self, name: str) -> dict:
        """{relpath: calls} of one tablefs function."""
        return {rel: n for (f, rel), n in self.calls.items() if f == name}
