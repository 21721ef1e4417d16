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
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    Sorting within buckets additionally removes the sort from sort-merge
    joins and enables faster merge scans.

    A managed-table location can outlive the session-local catalog (the
    in-memory catalog forgets the table, the warehouse directory does
    not), and saveAsTable refuses to adopt an unregistered location — so
    stale catalog entries AND leftover directories are cleared first.

    The table is managed, so its files live in the session's warehouse.
    A session ``get_spark`` builds keeps that warehouse under the
    process's scratch root, so two processes never share a table and
    the files go when the process exits."""
    import os
    import shutil

    spark = df.sparkSession
    if mode == "overwrite" and "." not in table:
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
        if loc and os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
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
