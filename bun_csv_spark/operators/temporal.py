"""Temporal joins the reference lacks entirely (SURVEY §2.3: single
equi-key only) but any event/timeseries pipeline needs: as-of join and
bounded range join, both shaped for 100 TB.

As-of join (nearest prior match) is NOT expressed as a theta-join — that
explodes into a per-key cross product. The scalable plan is the
union-and-carry pattern:

1. tag both inputs and union them (no join at all);
2. one shuffle on the key; within each key, sort by (ts, side) and carry
   the latest right-side values forward with ``last(..., ignorenulls)``
   over an unbounded-preceding running window;
3. keep only left rows — each now holds the most recent right row with
   ``right.ts <= left.ts`` (left-join semantics: NULLs when no prior).

Cost: ONE shuffle + per-partition sort, independent of match fan-out.
Skewed keys can reuse operators.skew salting.

Range join (left.ts in [right.start, right.end]) uses bucketing: each
interval explodes to the fixed-width buckets it covers, point events land
in exactly one bucket, and the equi-join on (key, bucket) + exact range
filter bounds the fan-out to interval_width/bucket_width copies instead
of a cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: "str | list[str]",
    ts: str,
    right_cols: list[str],
    tolerance: int | None = None,
    right_ts_col: str | None = None,
) -> DataFrame:
    """Backward as-of join: for every left row, the right row with the
    greatest ``ts`` <= left ``ts`` for the same ``key`` (ties include
    equal timestamps — right side sorts first at the same instant).
    ``key`` may be a single column or a composite list — the carry window
    partitions on all of them.

    ``right`` must carry ``key``, ``ts``, and ``right_cols`` (the payload
    to attach; include a copy of the right timestamp if the caller needs
    the gap). ``tolerance`` (same unit as ``ts``) drops matches older
    than ``left.ts - tolerance``, like pandas ``merge_asof``; it requires
    ``right_ts_col`` — the name of the right-timestamp copy inside
    ``right_cols`` the check compares against (an explicit parameter: the
    old first-entry positional convention silently compared an arbitrary
    payload column when callers ordered right_cols differently).

    Returns all left columns + ``right_cols`` (NULL when unmatched)."""
    keys = [key] if isinstance(key, str) else list(key)
    lcols = left.columns
    missing = [c for c in right_cols if c not in right.columns]
    if missing:
        raise ValueError(f"right_cols not in right DataFrame: {missing}")
    clashes = [c for c in right_cols if c in lcols]
    if clashes:
        raise ValueError(
            f"right_cols collide with left columns {clashes}; "
            "alias the right payload before joining"
        )
    if tolerance is not None:
        if right_ts_col is None:
            raise ValueError("tolerance requires right_ts_col")
        if right_ts_col not in right_cols:
            raise ValueError(
                f"right_ts_col {right_ts_col!r} must be one of right_cols"
            )
        import pyspark.sql.types as T

        rts_type = right.schema[right_ts_col].dataType
        if not isinstance(rts_type, (T.NumericType, T.TimestampType,
                                     T.TimestampNTZType, T.DateType)):
            raise ValueError(
                f"right_ts_col {right_ts_col!r} is {rts_type.simpleString()}; "
                "expected a numeric/timestamp column"
            )
    tagged_left = left.select(
        *[F.col(k) for k in keys],
        F.col(ts),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols if c not in keys and c != ts],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_cols],
    )
    tagged_right = right.select(
        *[F.col(k) for k in keys],
        F.col(ts),
        F.lit(0).alias("__side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in keys and c != ts
        ],
        *[F.col(c) for c in right_cols],
    )
    unioned = tagged_left.unionByName(tagged_right)

    w = Window.partitionBy(*keys).orderBy(ts, "__side")
    carried = unioned.select(
        "*", *[F.last(c, ignorenulls=True).over(w).alias(f"__m_{c}") for c in right_cols]
    )
    out = carried.filter(F.col("__side") == 1)
    matched = {c: F.col(f"__m_{c}") for c in right_cols}
    if tolerance is not None:
        # a match only counts when its carried timestamp is close enough
        rts = F.col(f"__m_{right_ts_col}")
        in_range = rts >= F.col(ts) - F.lit(tolerance)
        matched = {
            c: F.when(in_range, F.col(f"__m_{c}")) for c in right_cols
        }
    return out.select(
        *keys, ts, *[c for c in lcols if c not in keys and c != ts],
        *[matched[c].alias(c) for c in right_cols],
    )


def range_join_buckets(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_ts: str,
    start: str,
    end: str,
    bucket_width: int,
) -> DataFrame:
    """Join point events onto intervals containing them:
    ``points.point_ts`` in [``intervals.start``, ``intervals.end``], same
    ``key``. All timestamp columns share one numeric unit (e.g. epoch
    nanos) and ``bucket_width`` is in that unit.

    Each interval is exploded to ceil(width/bucket_width)+1 bucket copies;
    each point lands in exactly ONE bucket, so the (key, bucket) equi-join
    bounds fan-out by the interval width — no theta-join, no cross
    product, one shuffle per side. Returns inner-join rows with all
    columns from both inputs."""
    # exact integral division on longs — a double quotient can be one
    # bucket off past 2^53 (epoch-nanos magnitudes), and points and
    # intervals must bucket identically
    def _bk(c):
        return F.expr(f"`{c}` div {bucket_width}").cast("long")

    iv = intervals.withColumn(
        "__bucket", F.explode(F.sequence(_bk(start), _bk(end)))
    )
    pt = points.withColumn("__bucket", _bk(point_ts))
    return (
        pt.join(iv, [key, "__bucket"])
        .filter((F.col(point_ts) >= F.col(start)) & (F.col(point_ts) <= F.col(end)))
        .drop("__bucket")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width: int,
) -> DataFrame:
    """Interval x interval overlap join: pairs where
    ``[l_start, l_end]`` and ``[r_start, r_end]`` intersect, same key —
    the interval-family completion of ``range_join_buckets``
    (point-in-interval).

    Both sides explode to their covering buckets and meet through a
    (key, bucket) equi-join; overlapping intervals ALWAYS share at least
    one bucket, so no pair is missed, and a pair sharing several buckets
    is deduplicated by keeping only the bucket holding
    max(l_start, r_start) — an arithmetic tie-break, cheaper than a
    DISTINCT over the full output. Fan-out per row = width/bucket + 1;
    never a theta-join. At 100 TB pick bucket_width ~ the median interval
    width (fan-out a small constant), salt hot keys via operators.skew.

    Returns inner-join rows (all columns of both sides) plus
    ``overlap`` = min(l_end, r_end) - max(l_start, r_start) >= 0.
    """
    # exact integral division (`div`), never double division: at epoch-nanos
    # magnitudes (>2^53) a float quotient can land one bucket off, and the
    # explode bounds and the anchor must agree bit-for-bit
    def _bk(c):
        return F.expr(f"`{c}` div {bucket_width}").cast("long")

    lv = left.withColumn("__bucket", F.explode(F.sequence(_bk(l_start), _bk(l_end))))
    rv = right.withColumn("__bucket", F.explode(F.sequence(_bk(r_start), _bk(r_end))))
    lo = F.greatest(F.col(l_start), F.col(r_start))
    hi = F.least(F.col(l_end), F.col(r_end))
    anchor = F.expr(
        f"(greatest(`{l_start}`, `{r_start}`)) div {bucket_width}"
    ).cast("long")
    return (
        lv.join(rv, [key, "__bucket"])
        .filter((hi >= lo) & (F.col("__bucket") == anchor))
        .withColumn("overlap", hi - lo)
        .drop("__bucket")
    )
