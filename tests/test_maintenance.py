"""CDC changelog apply, Bloom semi-join, Z-order keys."""

from pyspark.sql import functions as F

from bun_csv_spark.operators.maintenance import (
    apply_changelog,
    bloom_semi_join,
    zorder_value,
)


def test_apply_changelog_semantics(spark):
    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 2, "U"),   # update
            (2, "stale", 1, "U"),  # older version must lose
            (3, "c", 2, "D"),    # delete
            (4, "d", 1, "U"),    # insert
        ],
        "id long, val string, version long, op string",
    )
    out = {r.id: r.val for r in apply_changelog(snap, changes, "id").collect()}
    assert out == {1: "a", 2: "b2", 4: "d"}


def test_apply_changelog_delete_then_reinsert_latest_wins(spark):
    snap = spark.createDataFrame([(1, "a")], "id long, val string")
    changes = spark.createDataFrame(
        [(1, "x", 2, "D"), (1, "re", 3, "U")],
        "id long, val string, version long, op string",
    )
    out = {r.id: r.val for r in apply_changelog(snap, changes, "id").collect()}
    assert out == {1: "re"}


def test_bloom_semi_join_no_false_negatives_and_deterministic(spark):
    probe = spark.range(0, 2000).select(F.col("id").alias("k"))
    build = spark.range(0, 2000, 7).select(F.col("id").alias("k"))  # ~286 keys
    out1 = {r.k for r in bloom_semi_join(probe, build, "k").collect()}
    out2 = {r.k for r in bloom_semi_join(probe, build, "k").collect()}
    true_keys = set(range(0, 2000, 7))
    assert true_keys <= out1          # a Bloom filter NEVER drops a member
    assert out1 == out2               # FP set is md5-deterministic
    # 64 Kbit / k=3 / 286 keys -> expected FP rate ~1e-5; anything beyond
    # a small handful of extras means the bitmap is broken
    assert len(out1 - true_keys) < 50


def test_bloom_semi_join_plan_is_broadcast_only(spark):
    probe = spark.range(0, 100).select(F.col("id").alias("k"))
    build = spark.range(0, 10).select(F.col("id").alias("k"))
    out = bloom_semi_join(probe, build, "k")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # 1-row bitmap map broadcast (bounds-broadcast crossJoin pattern)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan  # probe side must never shuffle-join


def test_zorder_value_interleave():
    import itertools

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    rows = [(a, b) for a, b in itertools.product([0, 85, 170, 255], repeat=2)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", zorder_value("a", "b", 0, 255, 0, 255, bits=8).alias("z")
        ).collect()
    }

    def interleave(a, b):
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in got.items():
        assert z == interleave(a, b), (a, b)


def test_agg_state_merge_equals_direct(spark):
    from bun_csv_spark.operators.maintenance import (
        agg_state,
        finalize_agg_state,
        merge_agg_states,
    )

    rows = [(i % 5, float(i) + 0.25) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, raw double").withColumn(
        "v", F.col("raw").cast("decimal(18,2)")
    )
    direct = finalize_agg_state(agg_state(df, ["k"], "v"))
    a = agg_state(df.filter("raw < 100"), ["k"], "v")
    b = agg_state(df.filter("raw >= 100"), ["k"], "v")
    merged = finalize_agg_state(merge_agg_states(a, b, ["k"]))
    key = lambda r: r.k  # noqa: E731
    assert sorted(direct.collect(), key=key) == sorted(merged.collect(), key=key)


def test_agg_state_merge_handles_disjoint_keys(spark):
    from bun_csv_spark.operators.maintenance import agg_state, merge_agg_states

    a = agg_state(
        spark.createDataFrame([(1, 10.0)], "k long, v double"), ["k"], "v"
    )
    b = agg_state(
        spark.createDataFrame([(2, 20.0)], "k long, v double"), ["k"], "v"
    )
    merged = {r.k: (r.n, r.sum) for r in merge_agg_states(a, b, ["k"]).collect()}
    assert merged == {1: (1, 10.0), 2: (1, 20.0)}


def test_skew_profile_orders_and_factors(spark):
    from bun_csv_spark.operators.maintenance import skew_profile

    rows = [("hot",)] * 90 + [("warm",)] * 9 + [("cold",)] * 1
    df = spark.createDataFrame(rows, "k string")
    out = skew_profile(df, "k", top=3).collect()
    assert [r.k for r in out] == ["hot", "warm", "cold"]
    assert out[0].cnt == 90 and abs(out[0].frac - 0.9) < 1e-9
    # 3 keys, 100 rows -> uniform share 33.3; hot carries 90 -> factor 2.7
    assert abs(out[0].skew_factor - 2.7) < 1e-9


def test_bloom_semi_join_xxhash_path_no_false_negatives(spark):
    probe = spark.range(0, 3000).select(F.col("id").alias("k"))
    build = spark.range(0, 3000, 11).select(F.col("id").alias("k"))
    out = {r.k for r in
           bloom_semi_join(probe, build, "k", hash_fn="xxhash64").collect()}
    assert set(range(0, 3000, 11)) <= out
