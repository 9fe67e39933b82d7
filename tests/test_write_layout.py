"""Write layout of the bucketed spans table: the doc-side merge of
``extract`` is clustered by bucket, so every write — run_extract,
upsert_extract (re-extract and delete) and each streaming micro-batch
append — lands exactly one spans file per bucket it writes, compaction
of a fresh table has nothing to do, and the lineage rows are the ones
the unclustered plan (extract, then with_bucket) gives for the same
input."""

import os

import pyarrow.parquet as pq

from ai_invoice_ocr_engine_spark import snapshots as S
from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.pipeline import (
    bucket_stats,
    committed_lineage,
    compact_spans,
    extract,
    lineage_of,
    run_extract,
    upsert_extract,
    verify_lineage,
    with_bucket,
)
from ai_invoice_ocr_engine_spark.streaming import incremental_extract
from ai_invoice_ocr_engine_spark.tablefs import list_parquet_files as _list_parquet_files

from .util import lineage_tree_files

NB = 8


def _files_per_bucket(spark, out) -> dict[int, int]:
    per: dict[int, int] = {}
    for path, _size in _list_parquet_files(spark, os.path.join(out, "spans")):
        b = int(path.split("bucket=")[1].split(os.sep)[0])
        per[b] = per.get(b, 0) + 1
    return per


def _lineage(df) -> list[tuple]:
    cols = ("partition_id", "doc_count", "span_count", "checksum")
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _committed(spark, out) -> list[tuple]:
    return sorted((b, *v) for b, v in committed_lineage(spark, out).items())


def test_batch_writes_land_one_file_per_bucket(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    run_extract(
        spark, corpus["docs_path"], corpus["media_path"], out,
        cfg=ExtractConfig(), num_buckets=NB, run_id="layout",
    )
    stats = bucket_stats(spark, out)
    assert stats["buckets"] == NB
    assert stats["max_files_per_bucket"] == 1
    assert stats["files"] == NB

    # lineage equals the unclustered plan's on the same input
    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(corpus["media_path"])
    want = _lineage(lineage_of(with_bucket(extract(docs, media), NB)))
    assert _committed(spark, out) == want

    # a fresh table has nothing to compact
    rep = compact_spans(spark, out, target_mb=128)
    assert rep["rewritten"] is False
    assert rep["files_before"] == rep["files_after"] == NB

    ids = sorted(
        r["doc_id"] for r in
        spark.read.parquet(os.path.join(out, "spans")).select("doc_id").collect()
    )

    def where(sel):
        return "doc_id IN (%s)" % ",".join(f"'{i}'" for i in sel)

    up = upsert_extract(
        spark, out, corpus["docs_path"], media_path=corpus["media_path"],
        where=where(ids[:12]),
    )
    assert up["buckets"] > 1
    assert bucket_stats(spark, out)["max_files_per_bucket"] == 1
    assert sum(_files_per_bucket(spark, out).values()) == NB
    # re-extracting a subset with the same config leaves lineage as is
    assert _committed(spark, out) == want

    gone = upsert_extract(
        spark, out, corpus["docs_path"], where=where(ids[12:20]), delete=True,
    )
    assert gone["buckets"] > 1
    assert bucket_stats(spark, out)["max_files_per_bucket"] == 1
    assert verify_lineage(spark, out)["ok"]


def test_stream_micro_batches_append_one_file_per_bucket(spark, corpus, tmp_path):
    """Two micro-batches (one source file each): every bucket a batch
    writes gains exactly one file, so a bucket holds one file per
    stream-append snapshot whose commit changed its lineage."""
    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(corpus["docs_path"])
    mid = t.num_rows // 2
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for k, part in enumerate((t.slice(0, mid), t.slice(mid))):
        pq.write_table(part, str(src / f"part-{k}.parquet"))
        q = incremental_extract(
            spark, str(src), corpus["media_path"], out, ckpt,
            num_buckets=NB, trigger_once=True,
        )
        q.awaitTermination(300)
        batches: dict[int, int] = {}
        prev: dict = {}
        for s in S.list_snapshots(spark, out):
            lin = S.load_snapshot(spark, out, s["snapshot_id"])["lineage"]
            assert s["op"] == "stream-append"
            for b in lin:
                if prev.get(b) != lin[b]:
                    batches[b] = batches.get(b, 0) + 1
            prev = lin
        assert max(batches.values()) == k + 1
        assert _files_per_bucket(spark, out) == batches
        assert lineage_tree_files(out) == []
    assert verify_lineage(spark, out)["ok"]
