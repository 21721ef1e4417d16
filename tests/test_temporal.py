"""As-of join and bounded range join (operators.temporal — extension
surface; the reference has single-equi-key joins only, SURVEY §2.3)."""

import pytest
from pyspark.sql import functions as F

from bun_csv_spark.operators.temporal import asof_join, range_join_buckets


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [("A", 100, "t1"), ("A", 205, "t2"), ("B", 150, "t3"), ("C", 50, "tc")],
        "sym string, ts long, trade_id string",
    )


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [("A", 90, 1.0), ("A", 100, 1.5), ("A", 200, 2.0), ("B", 160, 9.9)],
        "sym string, ts long, px double",
    )


def test_asof_backward_with_ties(trades, quotes):
    q = quotes.select("sym", "ts", F.col("ts").alias("qts"), "px")
    out = {
        r.trade_id: (r.qts, r.px)
        for r in asof_join(
            trades, q, key="sym", ts="ts", right_cols=["qts", "px"]
        ).collect()
    }
    assert out["t1"] == (100, 1.5)  # equal ts matches (prior-or-equal)
    assert out["t2"] == (200, 2.0)  # latest prior, not just any prior
    assert out["t3"] == (None, None)  # B's only quote is later -> no match
    assert out["tc"] == (None, None)  # no quotes at all for C

    # a composite key carries per (sym, venue): A's ts=200 quote sits on
    # another venue, so t2 falls back to A's latest quote on its own
    tv = trades.withColumn("venue", F.lit("x"))
    qv = q.withColumn("venue", F.when(F.col("ts") == 200, "y").otherwise("x"))
    out = {
        r.trade_id: (r.qts, r.px)
        for r in asof_join(
            tv, qv, key=["sym", "venue"], ts="ts", right_cols=["qts", "px"]
        ).collect()
    }
    assert out["t1"] == (100, 1.5) and out["t2"] == (100, 1.5)


def test_asof_tolerance(trades, quotes):
    q = quotes.select("sym", "ts", F.col("ts").alias("qts"), "px")
    out = {
        r.trade_id: r.px
        for r in asof_join(
            trades, q, key="sym", ts="ts", right_cols=["qts", "px"],
            tolerance=4, right_ts_col="qts",
        ).collect()
    }
    assert out["t1"] == 1.5  # gap 0 <= 4
    assert out["t2"] is None  # gap 5 > 4 -> dropped


def test_range_join_bucketed(spark):
    points = spark.createDataFrame(
        [("u", 5), ("u", 14), ("u", 25), ("v", 14)], "k string, pts long"
    )
    intervals = spark.createDataFrame(
        [("u", 10, 20, "i1"), ("u", 0, 30, "i2")], "k string, s long, e long, iv string"
    )
    out = range_join_buckets(
        points, intervals, key="k", point_ts="pts", start="s", end="e", bucket_width=7
    )
    got = sorted((r.iv, r.pts) for r in out.collect())
    # i1 covers u@14 only; i2 covers u@5, u@14, u@25; v@14 matches nothing
    assert got == [("i1", 14), ("i2", 5), ("i2", 14), ("i2", 25)]
    # each (interval, point) pair appears exactly once despite bucket explode
    assert len(got) == len(set(got))


def test_asof_join_validation(trades, quotes):
    q = quotes.select("sym", "ts", F.col("ts").alias("qts"), "px")
    with pytest.raises(ValueError, match="requires right_ts_col"):
        asof_join(trades, q, key="sym", ts="ts",
                  right_cols=["px", "qts"], tolerance=4)
    with pytest.raises(ValueError, match="must be one of right_cols"):
        asof_join(trades, q, key="sym", ts="ts",
                  right_cols=["px"], tolerance=4, right_ts_col="qts")
    with pytest.raises(ValueError, match="not in right DataFrame"):
        asof_join(trades, q, key="sym", ts="ts", right_cols=["nope"])
    with pytest.raises(ValueError, match="collide with left columns"):
        asof_join(trades, quotes.select("sym", "ts", F.col("px").alias("trade_id")),
                  key="sym", ts="ts", right_cols=["trade_id"])
    # payload-first ordering now works when right_ts_col is explicit
    out = {
        r.trade_id: r.px
        for r in asof_join(
            trades, q, key="sym", ts="ts", right_cols=["px", "qts"],
            tolerance=4, right_ts_col="qts",
        ).collect()
    }
    assert out["t1"] == 1.5 and out["t2"] is None


def test_interval_overlap_join_exact_and_deduped(spark):
    from bun_csv_spark.operators.temporal import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 1, 0, 100), (2, 1, 500, 600), (3, 2, 0, 100)],
        "lid long, k long, ls long, le long",
    )
    right = spark.createDataFrame(
        [
            (10, 1, 50, 150),    # overlaps lid=1 (spans 2 buckets at width 40)
            (11, 1, 90, 95),     # inside lid=1
            (12, 1, 200, 300),   # no overlap
            (13, 2, 100, 120),   # touches lid=3 at a single point
        ],
        "rid long, k long, rs long, re long",
    )
    out = interval_overlap_join(
        left, right, "k", "ls", "le", "rs", "re", bucket_width=40
    )
    pairs = sorted((r.lid, r.rid, r.overlap) for r in out.collect())
    # each overlapping pair appears EXACTLY once despite multi-bucket spans
    assert pairs == [(1, 10, 50), (1, 11, 5), (3, 13, 0)]


