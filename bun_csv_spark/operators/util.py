"""Small plan-shaping utilities."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_file_order_index(
    df: DataFrame, name: str = "__row_idx", order_col: str | None = None
) -> DataFrame:
    """Attach a deterministic 0-based row index — pure DataFrame API.

    Replaces ``df.rdd.zipWithIndex()`` (which round-trips every row through
    Python serialization) with JVM-side steps:

    1. tag rows with ``spark_partition_id()`` + ``monotonically_increasing_id()``;
    2. one tiny aggregation (one row per task — bounded by cluster
       parallelism, not data size) collects per-partition row counts plus
       the partition's min ``order_col`` (pass the file source's
       ``_metadata.file_block_start`` to order partitions by file offset;
       default orders by partition id, matching zipWithIndex); cumulative
       offsets are computed on the driver;
    3. the offsets go back into the plan as a literal array indexed by
       partition id: no second table, no broadcast. When
       ``monotonically_increasing_id`` is contiguous within every
       partition (its documented behavior — verified from the collected
       stats), the index is ``mid + (offset - partition_min_mid)`` with NO
       shuffle at all; otherwise fall back to a partition-local
       ``row_number`` window.

    Deterministic whenever the upstream plan is (file scans are). Like
    zipWithIndex this evaluates the plan twice (stats job + real job).
    """
    base = df.select(
        "*",
        F.spark_partition_id().alias("__pid"),
        F.monotonically_increasing_id().alias("__mid"),
    )
    ord_expr = F.min(order_col) if order_col else F.min("__pid")
    stats = (
        base.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min("__mid").alias("__mn"),
            F.max("__mid").alias("__mx"),
            ord_expr.alias("__ordk"),
        )
        .collect()
    )
    stats.sort(key=lambda r: (r["__ordk"], r["__pid"]))
    contiguous = all(r["__mx"] - r["__mn"] + 1 == r["__cnt"] for r in stats)
    width = max((r["__pid"] for r in stats), default=0) + 1
    offset, first_mid, acc = [0] * width, [0] * width, 0
    for r in stats:
        offset[r["__pid"]], first_mid[r["__pid"]] = acc, r["__mn"]
        acc += r["__cnt"]

    def per_partition(values: list[int]):
        # one SQL literal: one py4j call however many partitions there are
        return F.expr(
            f"element_at(array({', '.join(f'{v}L' for v in values)}), __pid + 1)"
        )

    if contiguous:
        idx = F.col("__mid") + per_partition(
            [o - m for o, m in zip(offset, first_mid)]
        )
    else:  # pragma: no cover — mid has been contiguous on every Spark release
        from pyspark.sql import Window

        w = Window.partitionBy("__pid").orderBy("__mid")
        idx = per_partition(offset) + F.row_number().over(w) - 1
    return base.withColumn(name, idx.cast("long")).drop("__pid", "__mid")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum sampling (training-data mixture control: downsample
    overrepresented sources/languages, keep rare ones whole).

    ``sampleBy`` is a filter pushed into the scan — no shuffle, no
    collect; deterministic for a fixed seed and input partitioning."""
    return df.sampleBy(strata_col, fractions, seed)


def stratified_sample_hash(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    id_col: str,
    denom: int = 10_000,
) -> DataFrame:
    """Deterministic, engine-portable stratified sampling: keep a row iff
    ``md5(id) mod denom < fraction * denom`` for its stratum.

    Unlike ``sampleBy`` (seeded RNG whose draw order depends on
    partitioning) the keep/drop decision is a pure function of the row —
    identical across engines, runs, and cluster layouts, which is what a
    reproducible training-data mixture needs. Still a plain filter
    expression: no shuffle, no UDF, pushes into the scan. Strata missing
    from ``fractions`` are dropped (map lookup yields NULL)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % denom
    )
    cutoffs = F.create_map(
        *[
            F.lit(x)
            for stratum, frac in fractions.items()
            for x in (stratum, int(round(frac * denom)))
        ]
    )
    return df.filter(bucket < cutoffs[F.col(strata_col)])


def ensure_parallelism(
    df: DataFrame,
    small_bytes: int = 128 * 1024 * 1024,
    key: str | None = None,
) -> DataFrame:
    """Repartition ONLY when the scan is too small to split (one small
    parquet file = one row group = one task locally), so CPU-bound stages
    that follow still use the whole cluster.

    Decided from file metadata alone (``inputFiles`` + ``getsize`` — no
    job, no RDD conversion). Inputs above ``small_bytes`` already split at
    ``maxPartitionBytes``, so at real scale this is a no-op and costs no
    shuffle.

    Only worth calling when the downstream per-row work is HEAVY (regex
    batteries, shingling, decoding): for cheap columnar aggregates the
    exchange costs more than single-task compute on a <128 MB input
    (r18 A/B at sf0.1, noop-forced best-of-5: tpch_q1 0.51 s unpartitioned
    vs 1.40 s through repartition(32)) — those call sites should read the
    scan directly.

    ``key``: a near-unique column to hash-partition on. A keyed
    repartition skips the keyless round-robin's local sort of every row
    (sortBeforeRepartition, SPARK-23207 — paid so retried tasks reproduce
    their row assignment; a hash partitioning is deterministic per row and
    needs no such sort) and measured ~20% cheaper end-to-end on the
    text-feature pipelines (0.77 vs 0.94 s). Needs many more distinct
    values than partitions to spread evenly — pass a doc/row id, never a
    low-cardinality attribute."""
    total = _local_input_bytes(df)
    if total is None:
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if total < small_bytes and parallelism > 4:
        if key is not None:
            return df.repartition(parallelism, F.col(key))
        return df.repartition(parallelism)
    return df


def _local_input_bytes(df: DataFrame) -> int | None:
    """Sum the on-disk bytes of ``df``'s input files, or ``None`` when the
    size cannot be known from the driver.

    Sizing is only possible when EVERY path is a local ``file:`` URI: for a
    remote scheme (s3://, hdfs://, ...) ``getsize`` cannot see the bytes,
    and silently skipping those paths would leave the total at 0 — "small"
    — and let ``ensure_parallelism`` full-shuffle an arbitrarily large
    remote scan. Unknown scheme, no input files, or any stat error ⇒
    ``None`` ⇒ the caller leaves the plan alone."""
    try:
        files = df.inputFiles()
        if not files or not all(f.startswith("file:") for f in files):
            return None
        return sum(os.path.getsize(f.removeprefix("file:")) for f in files)
    except Exception:  # noqa: BLE001 — non-file sources: leave the plan alone
        return None


def hash_split(
    df,
    id_col: str,
    weights: dict[str, float],
    salt: str = "split",
):
    """Deterministic train/val/test assignment: split = the bucket an
    md5-derived uniform of (salt, id) falls into, with cumulative-weight
    boundaries. Engine-portable and rerun-stable — the same row always
    lands in the same split, across Spark versions and engines (unlike
    randomSplit, which reshuffles with partition layout). Map-only; adds
    a ``split`` column."""
    from pyspark.sql import functions as F

    total = sum(weights.values())
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / float(1 << 60)
    )
    expr = None
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w / total
        cond = u < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)
