"""Bucketed tables — co-located joins without a shuffle.

The 100 TB join strategy (SCALE.md): when two fact tables join repeatedly
on the same key, bucket both by that key once at write time; every later
join reads co-partitioned buckets and skips the exchange entirely.
Verified by tests/test_bucketing_stateful.py asserting the join plan
contains no shuffle Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    Sorting within buckets additionally removes the sort from sort-merge
    joins and enables faster merge scans.

    A managed-table location can outlive the session-local catalog (the
    in-memory catalog forgets the table, the warehouse directory does
    not), and saveAsTable refuses to adopt an unregistered location — so
    stale catalog entries AND leftover directories are cleared first.

    ``path`` (r18) makes the table EXTERNAL at that location instead of
    under the shared warehouse dir — callers that stage per-process
    bucketed tables (the bucketed_join_agg gate) point it at their own
    reaped scratch, so two concurrent drivers never clobber each
    other's files. The caller owns the path's lifecycle."""
    import os
    import shutil

    spark = df.sparkSession
    if mode == "overwrite" and "." not in table:
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        if path is None:
            warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
            loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
        else:
            loc = path
        if loc and os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned layout: one directory per partition value.

    The 100 TB read-side payoff is PARTITION PRUNING — a filter on the
    partition column prunes whole directories before any file is opened
    (verified in tests: the scan's PartitionFilters carries the predicate
    and the input file count drops)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
