"""Bucketed co-located joins (no shuffle) + stateful streaming operator."""

import pytest
from pyspark.sql import functions as F

from bun_csv_spark.operators.bucketing import write_bucketed
from bun_csv_spark.streaming.windows import run_stream_to_table, stateful_user_counts


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bucketed_join_has_no_shuffle(spark):
    # saveAsTable writes under the session's warehouse, which get_spark
    # keeps in the process's scratch root; tables are dropped in the
    # finally block
    a = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_bucketed(a, "bk_a", ["k"], n_buckets=8, sort_cols=["k"])
    write_bucketed(b, "bk_b", ["k"], n_buckets=8, sort_cols=["k"])

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # Catalyst reads the bucket spec from the catalog
        joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
        plan = plan_of(joined)
        import re

        assert not re.search(r"\(\d+\) Exchange\b", plan), plan
        assert joined.count() == 500
        row = joined.filter("k = 10").collect()[0]
        assert (row.va, row.vb) == (20, 30)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_partition_pruning(spark, tmp_path):
    from bun_csv_spark.operators.bucketing import write_partitioned

    df = spark.createDataFrame(
        [(i, ["click", "view", "buy"][i % 3], float(i)) for i in range(300)],
        "id long, etype string, v double",
    )
    out = str(tmp_path / "part")
    write_partitioned(df, out, ["etype"])

    back = spark.read.parquet(out)
    pruned = back.filter(F.col("etype") == "click")
    plan = plan_of(pruned)
    # the partition predicate must prune directories, not filter rows
    assert "PartitionFilters" in plan and "click" in plan.split("PartitionFilters", 1)[1][:200]
    assert pruned.count() == 100
    # (inputFiles() reflects the unpruned base relation, so the plan's
    # PartitionFilters line above is the authoritative pruning evidence)


def test_salted_aggregate_equals_direct(spark):
    from bun_csv_spark.operators.skew import salted_aggregate

    # a heavily skewed key distribution: 90% of rows share one key
    df = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise("cold").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    direct = {
        (r.k): (r.n, r.s)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        (r.k): (r.n_rows, r.sum_v)
        for r in salted_aggregate(df, ["k"], sums=["v"], n_salt=8).collect()
    }
    assert salted == direct


@pytest.fixture(scope="module")
def user_events_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sev") / "events")
    rows = [
        (1, 100, 1.5), (2, 100, 2.5), (3, 200, 10.0), (4, 100, 1.0), (5, 300, 4.0),
    ]
    spark.createDataFrame(rows, "event_id long, user_id long, value double") \
        .write.mode("overwrite").parquet(path)
    return path


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from bun_csv_spark.streaming.windows import run_stream_to_table, streaming_dedup

    path = str(tmp_path / "dupev")
    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),  # dup key 1
        (2, "2024-01-01 00:05:00"),
        (3, "2024-01-01 01:00:00"), (3, "2024-01-01 01:01:00"),  # dup key 3
    ]
    df = spark.createDataFrame(rows, "k long, ts_s string").select(
        "k", F.to_timestamp_ntz("ts_s").alias("ts")
    )
    df.write.mode("overwrite").parquet(path)
    out = run_stream_to_table(
        spark, path, lambda s: streaming_dedup(s, ["k"], "ts", "2 hours"),
        output_mode="append",
    )
    assert sorted(r.k for r in out.collect()) == [1, 2, 3]


def test_stateful_user_counts(spark, user_events_parquet):
    out = run_stream_to_table(
        spark,
        user_events_parquet,
        lambda s: stateful_user_counts(s),
        output_mode="update",
    )
    rows = {r.user_id: (r.n_events, r.sum_value) for r in out.collect()}
    assert rows[100] == (3, 5.0)
    assert rows[200] == (1, 10.0)
    assert rows[300] == (1, 4.0)


def test_neardup_bucketed_join_has_no_shuffle(spark):
    """The materialized near-dup path: candidate self-join over the
    bucketed-by-(band,bucket) banding table plans without an Exchange
    below the join, and returns the same pairs as the in-flight variant."""
    import re

    from bun_csv_spark.operators.dedup import (
        neardup_pairs_minhash,
        neardup_pairs_minhash_bucketed,
    )

    docs = spark.createDataFrame(
        [(i, ("the quick brown fox jumps over the lazy dog " * 3)
          + ("" if i % 2 == 0 else f"variant {i}"))
         for i in range(40)],
        "doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = neardup_pairs_minhash_bucketed(
            docs, "doc_id", "text", table="bk_neardup", max_bucket=64
        )
        plan = plan_of(pairs)
        tree = plan.split("== Physical Plan ==", 1)[1]
        tree = tree.split("(1) Scan", 1)[0]
        assert "SortMergeJoin" in tree, plan
        # formatted plans print top-down: anything AFTER the join line is
        # below it in the tree. The only allowed Exchange is the final
        # distinct()'s, which sits above the join (before it in the text).
        below_join = tree.split("SortMergeJoin", 1)[1]
        assert not re.search(r"Exchange\b", below_join), plan
        assert len(re.findall(r"\+- Exchange|:- Exchange", tree)) <= 1, plan
        got = sorted((r.id_a, r.id_b) for r in pairs.collect())
        expect = sorted(
            (r.id_a, r.id_b)
            for r in neardup_pairs_minhash(
                docs, "doc_id", "text", max_bucket=64
            ).collect()
        )
        assert got == expect and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_neardup")


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream join returns exactly the batch join's
    pairs (bounded input, availableNow drains everything)."""
    from bun_csv_spark.streaming.windows import run_stream_to_table, stream_stream_join

    path = str(tmp_path / "ssj")
    rows = [
        (1, "p", 10, "2024-01-01 10:00:00"),
        (2, "c", 10, "2024-01-01 09:30:00"),  # within 1h before p1
        (3, "c", 10, "2024-01-01 08:59:00"),  # too old
        (4, "c", 10, "2024-01-01 10:00:01"),  # after -> no
        (5, "p", 20, "2024-01-01 12:00:00"),
        (6, "c", 20, "2024-01-01 12:00:00"),  # equal ts -> yes
    ]
    df = spark.createDataFrame(rows, "eid long, kind string, uid long, ts_s string") \
        .select("eid", "kind", "uid", F.to_timestamp_ntz("ts_s").alias("ts"))
    df.write.mode("overwrite").parquet(path)

    def transform(stream):
        p = stream.filter(F.col("kind") == "p").select("eid", "uid", "ts")
        c = stream.filter(F.col("kind") == "c").select(
            F.col("eid").alias("ceid"), "uid", "ts"
        )
        j = stream_stream_join(p, c, "uid", "ts", "1 hour", "2 hours")
        return j.select(F.col("l.eid").alias("p_id"), F.col("r.ceid").alias("c_id"))

    out = run_stream_to_table(spark, path, transform, output_mode="append")
    got = sorted((r.p_id, r.c_id) for r in out.collect())
    assert got == [(1, 2), (5, 6)]
