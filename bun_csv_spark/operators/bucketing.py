"""Bucketed tables — co-located joins without a shuffle.

The 100 TB join strategy (SCALE.md): when two fact tables join repeatedly
on the same key, bucket both by that key once at write time; every later
join reads co-partitioned buckets and skips the exchange entirely.
Verified by tests/test_bucketing_stateful.py asserting the join plan
contains no shuffle Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bun_csv_spark.scratch import scratch_dir


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table,
    replacing any table of that name.

    Sorting within buckets additionally removes the sort from sort-merge
    joins and enables faster merge scans.

    The table is external: its files live in ``table_<table>`` under the
    process's scratch root in every session, not in the session's
    warehouse, so two processes never share a table's files and they go
    when the process exits."""
    df.sparkSession.sql(f"DROP TABLE IF EXISTS `{table}`")
    writer = (
        df.write.format("parquet").mode("overwrite")
        .option("path", scratch_dir(f"table_{table}"))
        .bucketBy(n_buckets, *bucket_cols)
    )
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
