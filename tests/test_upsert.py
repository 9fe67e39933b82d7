"""Row-level MERGE INTO for the bucketed spans table (pipeline.upsert_extract):
targeted re-extraction of a doc subset, insertion of brand-new docs, and
deletion (takedown path), each leaving lineage verifiable and untouched
buckets byte-identical — the Iceberg row-level-update analog the north rule's
resumable 10^12-doc table needs for partial rework."""

import os

from pyspark.sql import functions as F

from ai_invoice_ocr_engine_spark import fixtures as FX
from ai_invoice_ocr_engine_spark import oracle as O
from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.pipeline import (
    run_extract,
    upsert_extract,
    verify_lineage,
)

from .util import assert_span_equal, spans_key

NB = 8


def _base_run(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    run_extract(
        spark,
        corpus["docs_path"],
        corpus["media_path"],
        out,
        cfg=ExtractConfig(),
        num_buckets=NB,
        run_id="base",
    )
    return out


def test_upsert_reextracts_subset_and_matches_full_run(spark, corpus, tmp_path):
    """Re-extract 6 docs with a DIFFERENT config (beam decode): upserted
    rows must equal the oracle under the new config, every other
    doc must keep its original spans, and lineage must verify."""
    out = _base_run(spark, corpus, tmp_path)
    spans_dir = os.path.join(out, "spans")
    before = spans_key(spark.read.parquet(spans_dir).collect())

    ids = sorted(before)[:6]
    ids_sql = ",".join(f"'{i}'" for i in ids)
    import dataclasses

    base_cfg = ExtractConfig()
    cfg2 = dataclasses.replace(
        base_cfg, rec=dataclasses.replace(base_cfg.rec, decode="beam")
    )
    rep = upsert_extract(
        spark,
        out,
        corpus["docs_path"],
        media_path=corpus["media_path"],
        where=f"doc_id IN ({ids_sql})",
        cfg=cfg2,
    )
    assert rep["docs"] == 6 and not rep["deleted"]

    after = spans_key(spark.read.parquet(spans_dir).collect())
    assert set(after) == set(before)
    want = spans_key(
        O.run_oracle(
            [d for d in corpus["docs"] if d["doc_id"] in ids], corpus["media"], cfg2
        )
    )
    assert_span_equal({k: after[k] for k in ids}, want)
    untouched = {k: v for k, v in before.items() if k not in ids}
    assert_span_equal({k: after[k] for k in untouched}, untouched)
    assert verify_lineage(spark, out)["ok"]


def test_upsert_inserts_new_docs(spark, corpus, tmp_path):
    """Docs present in the source table but never extracted (simulated by
    a base run over a filtered doc set) are INSERTED by the upsert."""
    out = str(tmp_path / "out")
    docs_all = spark.read.parquet(corpus["docs_path"])
    ids = sorted(r.doc_id for r in docs_all.select("doc_id").collect())
    held_out = ids[:4]
    held_sql = ",".join(f"'{i}'" for i in held_out)
    subset_path = str(tmp_path / "docs_subset.parquet")
    docs_all.where(~F.col("doc_id").isin(held_out)).write.parquet(subset_path)
    run_extract(
        spark, subset_path, corpus["media_path"], out,
        cfg=ExtractConfig(), num_buckets=NB,
    )
    rep = upsert_extract(
        spark,
        out,
        corpus["docs_path"],
        media_path=corpus["media_path"],
        where=f"doc_id IN ({held_sql})",
    )
    assert rep["docs"] == 4
    table = spans_key(
        spark.read.parquet(os.path.join(out, "spans")).collect()
    )
    assert set(table) == set(ids)
    assert verify_lineage(spark, out)["ok"]


def test_delete_purges_rows_and_empty_buckets(spark, corpus, tmp_path):
    """Deletion removes the rows, purges a bucket emptied entirely (its
    lineage row too — dynamic overwrite alone would leave it), and the
    rest of the table is untouched."""
    out = _base_run(spark, corpus, tmp_path)
    spans_dir = os.path.join(out, "spans")
    t = spark.read.parquet(spans_dir)
    n_before = t.count()
    b0 = int(t.select("bucket").distinct().limit(1).collect()[0].bucket)
    whole = [r.doc_id for r in
             t.where(F.col("bucket") == b0).select("doc_id").collect()]
    extra = [r.doc_id for r in
             t.where(F.col("bucket") != b0).select("doc_id").limit(2).collect()]
    del_sql = ",".join(f"'{i}'" for i in whole + extra)
    rep = upsert_extract(
        spark, out, corpus["docs_path"],
        where=f"doc_id IN ({del_sql})", delete=True,
    )
    assert rep["deleted"] and rep["docs"] == len(whole) + 2
    after = spark.read.parquet(spans_dir)
    assert after.count() == n_before - len(whole) - 2
    assert after.where(F.col("bucket") == b0).count() == 0
    assert not os.path.exists(os.path.join(spans_dir, f"bucket={b0}"))
    v = verify_lineage(spark, out)
    assert v["ok"] and v["partitions"] == NB - 1


def test_upsert_is_idempotent(spark, corpus, tmp_path):
    """Running the same upsert twice yields the same table (the crash-
    recovery contract: a rerun after a mid-upsert failure converges)."""
    out = _base_run(spark, corpus, tmp_path)
    spans_dir = os.path.join(out, "spans")
    ids = sorted(spans_key(spark.read.parquet(spans_dir).collect()))[:3]
    ids_sql = ",".join(f"'{i}'" for i in ids)
    kw = dict(
        media_path=corpus["media_path"],
        where=f"doc_id IN ({ids_sql})",
    )
    upsert_extract(spark, out, corpus["docs_path"], **kw)
    first = spans_key(spark.read.parquet(spans_dir).collect())
    upsert_extract(spark, out, corpus["docs_path"], **kw)
    second = spans_key(spark.read.parquet(spans_dir).collect())
    assert_span_equal(second, first)
    assert verify_lineage(spark, out)["ok"]


def test_upsert_requires_media_and_manifest(spark, corpus, tmp_path):
    import pytest

    out = _base_run(spark, corpus, tmp_path)
    with pytest.raises(ValueError, match="media_path"):
        upsert_extract(spark, out, corpus["docs_path"], where="1=1")
    with pytest.raises(ValueError, match="manifest"):
        upsert_extract(
            spark, str(tmp_path / "nope"), corpus["docs_path"],
            where="1=1", delete=True,
        )


def test_upsert_on_an_empty_selection_commits_nothing(spark, corpus, tmp_path):
    """A ``where`` that matches no doc returns the same report shape as
    any upsert, with the snapshot the table already stands at."""
    from ai_invoice_ocr_engine_spark import snapshots as S

    out = _base_run(spark, corpus, tmp_path)
    head = S.current_snapshot_id(spark, out)
    for delete in (False, True):
        rep = upsert_extract(
            spark, out, corpus["docs_path"], media_path=corpus["media_path"],
            where="1=0", delete=delete,
        )
        assert (rep["docs"], rep["buckets"], rep["snapshot_id"]) == (0, 0, head)
        assert rep["secs"] >= 0
    assert [s["op"] for s in S.list_snapshots(spark, out)] == ["extract"]
