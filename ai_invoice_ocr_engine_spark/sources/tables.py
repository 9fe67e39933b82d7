"""Spark bucketed catalog tables for shuffle-free joins.

The extraction table itself is not written here: its bucketed parquet
layout (``bucket = pmod(xxhash64(doc_id), P)``, ``partitionBy("bucket")``)
is staged by ``pipeline.stage_buckets`` and landed by
``pipeline.commit_buckets`` under the ``num_buckets`` its HEAD snapshot
records (``snapshots.open_table``). This module holds the other bucketing, which aligns TWO tables on a join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed_table(
    df: DataFrame,
    name: str,
    key: str,
    num_buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Save ``df`` as a Spark BUCKETED catalog table (``bucketBy`` +
    optional ``sortBy`` on the join key) — the co-located-join layout:
    two tables bucketed by the same key with the same bucket count join
    as a SortMergeJoin with ZERO Exchange (both sides arrive
    pre-shuffled, and pre-sorted when ``sort``), the pattern that turns
    a 100 TB fact⋈fact join from a full network shuffle into a local
    merge. Distinct from the extraction table's ``bucket`` partitions:
    those lay out ONE table for pruning/resume; this aligns TWO tables
    for shuffle-free joins (Iceberg equivalent: identical bucket(N, key)
    partition transforms + storage-partitioned join). With ``path`` the
    table is external (files live at ``path``; DROP TABLE keeps them)."""
    w = df.write.bucketBy(num_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.mode("overwrite").format("parquet").saveAsTable(name)
