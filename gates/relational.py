"""The reference's relational surface and its Spark-native extensions:
projection, filters, sorts, joins, grouped and windowed aggregates, scalar
functions, sketch joins and the storage-layout reads."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from bun_csv_spark.functions.sketches import (
    cm_inner_product,
    cm_sketch,
    histogram_quantiles,
)
from bun_csv_spark.functions.timefmt import ns_to_seconds
from bun_csv_spark.operators.aggregates import exact_median_distributed
from bun_csv_spark.operators.bucketing import write_bucketed, write_partitioned
from bun_csv_spark.operators.frame import TurboFrame
from bun_csv_spark.operators.skew import salted_aggregate
from bun_csv_spark.operators.stats import validate_rules
from bun_csv_spark.sources.events import read_events

from gates.common import Family, Plan, _scratch_dir, _t


GATES = Family()


# Encounter-order key for lineitem (l_linenumber <= 7, so *10 is injective).
def _li_ord():
    return (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("__ord")


_LI_ORD_SQL = "(l_orderkey * 10 + l_linenumber)"


@GATES.gate("select_project", "SELECT c_custkey, c_name FROM customer", Plan(
    shuffles=0,
    must=["ReadSchema: struct<c_custkey:bigint,c_name:string>"],
    must_not=["Exchange"],
))
def q_select_project(spark, sf_dir):
    """Column projection (dataframe.ts:95-105 -> df.select)."""
    return TurboFrame(_t(spark, sf_dir, "customer")).select("c_custkey", "c_name").df


@GATES.gate("filter_numeric", (
    "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000"
), Plan(
    shuffles=0,
    must=["PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal"],
    must_not=["Exchange"],
))
def q_filter_numeric(spark, sf_dir):
    """CLI filter grammar, numeric compare (filter.ts:74-88)."""
    tf = TurboFrame(_t(spark, sf_dir, "customer"))
    return tf.filter("c_acctbal > 5000").select("c_custkey", "c_acctbal").df


@GATES.gate("filter_compound", """
        SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        WHERE (c_acctbal >= 1000 AND c_mktsegment = 'BUILDING') OR c_acctbal < 0
    """)
def q_filter_compound(spark, sf_dir):
    """Compound &&/|| predicates (filter.ts fallback, parsed natively here)."""
    tf = TurboFrame(_t(spark, sf_dir, "customer"))
    expr = "(c_acctbal >= 1000 && c_mktsegment == BUILDING) || c_acctbal < 0"
    return tf.filter(expr).select("c_custkey", "c_acctbal", "c_mktsegment").df


@GATES.gate("filter_string_ops", """
        SELECT p_partkey, p_name, p_type FROM part
        WHERE position('ECO' IN p_type) > 0
           OR p_name LIKE '%bolt' OR p_name LIKE 'red%'
    """)
def q_filter_string_ops(spark, sf_dir):
    """contains / startsWith / endsWith (filter.ts:90-111)."""
    tf = TurboFrame(_t(spark, sf_dir, "part"))
    return (
        tf.filter("p_type contains 'ECO' || p_name endsWith 'bolt' || p_name startsWith 'red'")
        .select("p_partkey", "p_name", "p_type")
        .df
    )


@GATES.gate("filter_matches", (
    "SELECT p_partkey, p_name FROM part "
    "WHERE regexp_matches(p_name, '^(red|blue) .*t$')"
))
def q_filter_matches(spark, sf_dir):
    """`matches` regex op — documented in the reference README (README.md:213)
    but unimplemented there; realized as rlike per documented intent."""
    tf = TurboFrame(_t(spark, sf_dir, "part"))
    return tf.filter("p_name matches '^(red|blue) .*t$'").select("p_partkey", "p_name").df


@GATES.gate("sort_topk", """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """, Plan(shuffles=0, must=["TakeOrderedAndProject"], must_not=["GlobalSort"]))
def q_sort_topk(spark, sf_dir):
    """Type-aware sort + limit (dataframe.ts:124-145, head.ts:33-37)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


@GATES.gate("limit_preview", f"""
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        ORDER BY {_LI_ORD_SQL} LIMIT 50
    """)
def q_limit_preview(spark, sf_dir):
    """preview/fromLine-style row limiting pushed into the scan
    (parser.zig:345-353 -> Catalyst CollectLimit)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(_li_ord(), "l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("__ord")
        .limit(50)
        .drop("__ord")
    )


@GATES.gate("join_inner", """
        SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
    """, Plan(
    shuffles=0, must=["BroadcastHashJoin"], must_not=["SortMergeJoin"],
    fact_scans={"lineitem": 1, "orders": 1},
    # customer scales with SF
    hints=0,
))
def q_join_inner(spark, sf_dir):
    """Hash equi-join, inner (dataframe.ts:157-207). No broadcast hint:
    customer scales with SF, so the strategy is left to AQE (it broadcasts
    only when the runtime size is actually under the threshold)."""
    tf = TurboFrame(_t(spark, sf_dir, "orders"))
    joined = tf.join(
        TurboFrame(_t(spark, sf_dir, "customer")),
        on={"left": "o_custkey", "right": "c_custkey"},
        how="inner",
    )
    return joined.select("o_orderkey", "o_custkey", "c_name", "c_mktsegment").df


@GATES.gate("join_left", """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """)
def q_join_left(spark, sf_dir):
    """Left outer join; unmatched right side -> NULLs."""
    tf = TurboFrame(_t(spark, sf_dir, "customer"))
    joined = tf.join(
        TurboFrame(_t(spark, sf_dir, "orders")),
        on={"left": "c_custkey", "right": "o_custkey"},
        how="left",
    )
    return joined.select("c_custkey", "c_name", "o_orderkey", "o_totalprice").df


@GATES.gate("join_right", """
        SELECT o_orderkey, c_custkey, c_name
        FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """)
def q_join_right(spark, sf_dir):
    """Right outer join (dataframe.ts:19 JoinType right)."""
    tf = TurboFrame(_t(spark, sf_dir, "orders"))
    joined = tf.join(
        TurboFrame(_t(spark, sf_dir, "customer")),
        on={"left": "o_custkey", "right": "c_custkey"},
        how="right",
    )
    return joined.select("o_orderkey", "c_custkey", "c_name").df


@GATES.gate("join_full", """
        SELECT s_suppkey, s_name, n_nationkey, n_name
        FROM supplier FULL JOIN nation ON s_nationkey = n_nationkey
    """)
def q_join_full(spark, sf_dir):
    """Full outer join (dataframe.ts:19 JoinType full)."""
    tf = TurboFrame(_t(spark, sf_dir, "supplier"))
    joined = tf.join(
        TurboFrame(_t(spark, sf_dir, "nation")),
        on={"left": "s_nationkey", "right": "n_nationkey"},
        how="full",
    )
    return joined.select("s_suppkey", "s_name", "n_nationkey", "n_name").df


@GATES.gate("join_cross", "SELECT r_name, n_name FROM region CROSS JOIN nation")
def q_join_cross(spark, sf_dir):
    """Real cross join — declared but degenerate in the reference
    (dataframe.ts:17 'cross' falls into inner); implemented per intent."""
    tf = TurboFrame(_t(spark, sf_dir, "region"))
    return tf.join(TurboFrame(_t(spark, sf_dir, "nation")), how="cross").select(
        "r_name", "n_name"
    ).df


@GATES.gate("groupby_reference_aggs", f"""
        SELECT l_returnflag,
               count(*)::BIGINT AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty,
               min(l_quantity) AS min_qty,
               max(l_quantity) AS max_qty,
               round(avg(l_quantity), 4) AS mean_qty,
               round(median(l_quantity), 4) AS median_qty,
               round(stddev_pop(l_quantity), 4) AS stddev_qty,
               arg_min(l_linestatus, {_LI_ORD_SQL}) AS first_status,
               arg_max(l_linestatus, {_LI_ORD_SQL}) AS last_status
        FROM lineitem GROUP BY l_returnflag
    """, Plan(
    # r18: ensure_parallelism exchange removed -> the groupBy reduce only
    shuffles=1, must=["HashAggregate"],
))
def q_groupby_reference_aggs(spark, sf_dir):
    """The exact aggregate semantics table (dataframe.ts:268-343, SURVEY
    §2.4): count counts nulls, stddev is population, median exact,
    first/last in encounter order (pinned by the __ord key)."""
    # r18: no ensure_parallelism — the downstream is one cheap columnar
    # aggregate; the keyless exchange cost 2.6x the whole query at sf0.1
    # (A/B best-of-5: 0.37 s direct vs 0.98 s through repartition(32)).
    # At scale the scan splits at maxPartitionBytes on its own.
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "__ord", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    grouped = TurboFrame(li).group_by("l_returnflag")
    out = grouped.aggregate(
        {
            "n_rows": ("l_quantity", "count"),
            "sum_qty": ("l_quantity", "sum"),
            "min_qty": ("l_quantity", "min"),
            "max_qty": ("l_quantity", "max"),
            "mean_qty": ("l_quantity", "mean"),
            "median_qty": ("l_quantity", "median"),
            "stddev_qty": ("l_quantity", "stddev"),
            "first_status": ("l_linestatus", "first"),
            "last_status": ("l_linestatus", "last"),
        },
        order_col="__ord",
    ).df
    return out.select(
        "l_returnflag",
        "n_rows",
        F.round("sum_qty", 2).alias("sum_qty"),
        "min_qty",
        "max_qty",
        F.round("mean_qty", 4).alias("mean_qty"),
        F.round("median_qty", 4).alias("median_qty"),
        F.round("stddev_qty", 4).alias("stddev_qty"),
        "first_status",
        "last_status",
    )


@GATES.gate("groupby_concat", """
        SELECT n_regionkey,
               string_agg(n_name, ', ' ORDER BY n_nationkey) AS nations,
               count(*)::BIGINT AS n_nations
        FROM nation GROUP BY n_regionkey
    """)
def q_groupby_concat(spark, sf_dir):
    """concat aggregate: values joined ', ' in encounter order
    (dataframe.ts:342-343)."""
    nation = _t(spark, sf_dir, "nation")
    grouped = TurboFrame(nation).group_by("n_regionkey")
    return grouped.aggregate(
        {"nations": ("n_name", "concat"), "n_nations": ("n_name", "count")},
        order_col="n_nationkey",
    ).df


@GATES.gate("agg_ungrouped", """
        SELECT count(*)::BIGINT AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty,
               round(avg(l_quantity), 4) AS mean_qty,
               round(median(l_quantity), 4) AS median_qty,
               round(stddev_pop(l_quantity), 4) AS stddev_qty,
               min(l_quantity) AS min_qty,
               max(l_quantity) AS max_qty
        FROM lineitem
    """)
def q_agg_ungrouped(spark, sf_dir):
    """Whole-column aggregates (dataframe.zig:344-464 df_sum/mean/...).

    r19 (guide §5 "the driver should do almost no data work" / no
    single-reducer buffers): the UNGROUPED exact median no longer rides
    ``F.median`` — a single-group TypedImperativeAggregate whose final
    merge buffers the whole column's distinct-value map on ONE reducer
    (an OOM at 100 TB) — but the two-pass distributed histogram
    selection (operators/aggregates.exact_median_distributed: O(1)
    task state, <=4096-row driver collects, exact midpoint semantics
    law-tested bit-equal against F.median). The remaining aggregates
    keep their one-pass partial-aggregatable plan."""
    li = _t(spark, sf_dir, "lineitem")
    median = exact_median_distributed(li, "l_quantity")
    out = TurboFrame(li).aggregate_all(
        {
            "n_rows": ("l_quantity", "count"),
            "sum_qty": ("l_quantity", "sum"),
            "mean_qty": ("l_quantity", "mean"),
            "stddev_qty": ("l_quantity", "stddev"),
            "min_qty": ("l_quantity", "min"),
            "max_qty": ("l_quantity", "max"),
        }
    ).df
    return out.select(
        "n_rows",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("mean_qty", 4).alias("mean_qty"),
        F.round(F.lit(median), 4).alias("median_qty"),
        F.round("stddev_qty", 4).alias("stddev_qty"),
        "min_qty",
        "max_qty",
    )


@GATES.gate("count_rows", "SELECT count(*)::BIGINT AS n FROM lineitem")
def q_count_rows(spark, sf_dir):
    """count CLI command (cli/commands/count.ts:17-42)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@GATES.gate("distinct_values", "SELECT DISTINCT c_mktsegment FROM customer")
def q_distinct_values(spark, sf_dir):
    """distinct — extension beyond the reference (SURVEY §2.7: none)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@GATES.gate("set_ops", """
        SELECT c_custkey, 'union' AS op FROM (
          SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
          UNION
          SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0)
        UNION ALL
        SELECT c_custkey, 'intersect' AS op FROM (
          SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
          INTERSECT
          SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0)
        UNION ALL
        SELECT c_custkey, 'except' AS op FROM (
          SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
          EXCEPT
          SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0)
    """, Plan(
    lint_wash="measured wash: merge on the intersect/except builds "
        "A/B'd 0.98-1.02x at sf10 AND sf100 — the keys-only 7.5M-row "
        "HashedRelation is compact and the SMJ alternative exchanges BOTH "
        "large sides",
))
def q_set_ops(spark, sf_dir):
    """union / intersect / except — extension surface (SURVEY §2.7)."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_custkey") % 3 == 0).select("c_custkey")
    b = cust.filter(F.col("c_custkey") % 2 == 0).select("c_custkey")
    return (
        a.union(b).distinct().withColumn("op", F.lit("union"))
        .unionAll(a.intersect(b).withColumn("op", F.lit("intersect")))
        .unionAll(a.subtract(b).withColumn("op", F.lit("except")))
    )


@GATES.gate("window_topk_per_group", """
        SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders)
        WHERE rnk <= 2
    """)
def q_window_topk_per_group(spark, sf_dir):
    """Top-2 orders per customer via ranking window."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@GATES.gate("skew_salted_agg", """
        SELECT l_returnflag, count(*)::BIGINT AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY l_returnflag
    """)
def q_skew_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation — result must equal the direct
    groupBy (the oracle IS the direct form)."""
    li = _t(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li, ["l_returnflag"], sums=["l_quantity"], n_salt=16
    )
    return out.select(
        "l_returnflag", "n_rows", F.round("sum_l_quantity", 2).alias("sum_qty")
    )


@GATES.gate("distinct_agg", """
        SELECT c_mktsegment,
               count(DISTINCT o_custkey)::BIGINT AS n_customers,
               count(DISTINCT o_orderpriority)::BIGINT AS n_priorities,
               count(*)::BIGINT AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """, Plan(hints=0))
def q_distinct_agg(spark, sf_dir):
    """DISTINCT aggregation modifier (no distinct-agg in the reference —
    SURVEY §2.4 'no distinct aggregation modifier')."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    # customer scales with SF — strategy left to AQE
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@GATES.gate("cube_agg", """
        SELECT l_returnflag, l_linestatus,
               count(*)::BIGINT AS n_rows,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """)
def q_cube_agg(spark, sf_dir):
    """CUBE grouping sets (all 4 combinations of two dimensions)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@GATES.gate("unpivot", """
        WITH wide AS (
          SELECT c_mktsegment,
                 round(min(c_acctbal), 2) AS min_bal,
                 round(max(c_acctbal), 2) AS max_bal,
                 round(avg(c_acctbal), 2) AS avg_bal
          FROM customer GROUP BY c_mktsegment)
        SELECT c_mktsegment, 'min_bal' AS metric, min_bal AS value FROM wide
        UNION ALL
        SELECT c_mktsegment, 'max_bal', max_bal FROM wide
        UNION ALL
        SELECT c_mktsegment, 'avg_bal', avg_bal FROM wide
    """)
def q_unpivot(spark, sf_dir):
    """Unpivot (wide -> long) via the native unpivot operator."""
    cust = _t(spark, sf_dir, "customer")
    wide = cust.groupBy("c_mktsegment").agg(
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
    )
    return wide.unpivot(
        "c_mktsegment", ["min_bal", "max_bal", "avg_bal"], "metric", "value"
    )


@GATES.gate("rollup_agg", """
        SELECT l_returnflag, l_linestatus,
               count(*)::BIGINT AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """)
def q_rollup_agg(spark, sf_dir):
    """ROLLUP grouping sets (extension; no grouping sets in reference)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@GATES.gate("window_running_sum", """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS running_total
        FROM orders
    """)
def q_window_running_sum(spark, sf_dir):
    """Running revenue per customer (frame-bounded window agg)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@GATES.gate("window_lag_lead", """
        SELECT o_custkey, o_orderkey,
               lag(o_orderkey) OVER w AS prev_order,
               lead(o_orderkey) OVER w AS next_order,
               dense_rank() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """)
def q_window_lag_lead(spark, sf_dir):
    """lag/lead navigation within per-customer order history."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.dense_rank().over(
            Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        ).cast("long").alias("price_rank"),
    )


@GATES.gate("window_rank_family", """
        SELECT c_custkey, c_mktsegment,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """)
def q_window_rank_family(spark, sf_dir):
    """ntile / percent_rank / cume_dist over per-segment balances."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@GATES.gate("percentiles", """
        SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        FROM orders
    """)
def q_percentiles(spark, sf_dir):
    """Exact continuous percentiles of order totals."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
    )


@GATES.gate("semi_anti_join", """
        SELECT c_custkey, 'has_urgent' AS tag FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        UNION ALL
        SELECT c_custkey, 'no_urgent' AS tag FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """)
def q_semi_anti_join(spark, sf_dir):
    """left_semi (EXISTS) and left_anti (NOT EXISTS) — Spark-native join
    types beyond the reference's four. Both builds carry a MERGE hint
    (r16: the lint sf10 sweep flagged both as live q9-window fact
    broadcasts — the urgent-orders keys projection is ~20% of an
    SF-scaling table, priced under the threshold at sf10 and statically
    broadcast as a ~3M-key build, twice; merge measures 1.48x at sf10
    and is a within-noise no-op at sf100 — A/B in SCALE.md r16)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    semi = cust.join(
        urgent.hint("merge"), cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", F.lit("has_urgent").alias("tag"))
    anti = cust.join(
        urgent.hint("merge"), cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", F.lit("no_urgent").alias("tag"))
    return semi.unionAll(anti)


@GATES.gate("having_subquery", """
        SELECT c_mktsegment, round(avg(c_acctbal), 4) AS avg_bal,
               count(*)::BIGINT AS n
        FROM customer GROUP BY c_mktsegment
        HAVING avg(c_acctbal) > (SELECT avg(c_acctbal) FROM customer)
    """)
def q_having_subquery(spark, sf_dir):
    """HAVING + scalar subquery: segments whose average balance beats the
    overall average."""
    cust = _t(spark, sf_dir, "customer")
    overall = cust.agg(F.avg("c_acctbal")).first()[0]
    return (
        cust.groupBy("c_mktsegment")
        .agg(F.avg("c_acctbal").alias("__avg"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("__avg") > overall)  # HAVING on the unrounded value
        .select("c_mktsegment", F.round("__avg", 4).alias("avg_bal"), "n")
    )


@GATES.gate("string_funcs", """
        SELECT p_partkey,
               upper(p_name) AS upper_name,
               length(p_name)::INTEGER AS name_len,
               substr(p_name, 1, 3) AS prefix3,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
               lpad(p_partkey::VARCHAR, 8, '0') AS padded_key,
               string_split(p_name, ' ')[1] AS first_word
        FROM part
    """)
def q_string_funcs(spark, sf_dir):
    """Scalar string functions over part names."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("upper_name"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 3).alias("prefix3"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
    )


@GATES.gate("date_funcs", """
        SELECT o_orderkey,
               year(o_orderdate)::INTEGER AS yr,
               month(o_orderdate)::INTEGER AS mo,
               day(o_orderdate)::INTEGER AS dom,
               quarter(o_orderdate)::INTEGER AS qtr,
               dayofweek(o_orderdate)::INTEGER AS dow_sun0,
               strftime(o_orderdate, '%Y-%m') AS ym
        FROM orders
    """)
def q_date_funcs(spark, sf_dir):
    """Date-part extraction (timestamps are NTZ -> wall-clock safe)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        (F.dayofweek("o_orderdate") - 1).alias("dow_sun0"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@GATES.gate("case_bucketing", """
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 150000 THEN 'medium'
                    ELSE 'large' END AS bucket,
               count(*)::BIGINT AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY 1
    """)
def q_case_bucketing(spark, sf_dir):
    """CASE-WHEN histogram bucketing of order totals."""
    orders = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@GATES.gate("pivot_native", """
        SELECT year(o_orderdate)::INTEGER AS yr,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT')::BIGINT AS n_1,
               count(*) FILTER (WHERE o_orderpriority = '2-HIGH')::BIGINT AS n_2,
               count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')::BIGINT AS n_3,
               count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')::BIGINT AS n_4,
               count(*) FILTER (WHERE o_orderpriority = '5-LOW')::BIGINT AS n_5
        FROM orders GROUP BY 1
    """)
def q_pivot_native(spark, sf_dir):
    """Native pivot operator: order counts per priority column."""
    orders = _t(spark, sf_dir, "orders")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = (
        orders.withColumn("yr", F.year("o_orderdate"))
        .groupBy("yr")
        .pivot("o_orderpriority", pri)
        .count()
    )
    renames = {p: f"n_{p.split('-')[0]}" for p in pri}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.select(
        "yr",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in renames.values()],
    )


@GATES.gate("quantile_sketch", """
        WITH bounds AS (
          SELECT min(o_totalprice::DOUBLE) AS lo,
                 max(o_totalprice::DOUBLE) AS hi,
                 count(o_totalprice) AS n
          FROM orders),
        hist AS (
          SELECT least(CAST(floor((o_totalprice::DOUBLE - lo)
                                  / ((hi - lo) / 1000.0)) AS BIGINT),
                       999) AS bin,
                 count(*) AS c
          FROM orders, bounds
          WHERE o_totalprice IS NOT NULL
          GROUP BY 1),
        cum AS (
          SELECT bin, c,
                 sum(c) OVER (ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cumc
          FROM hist),
        wq AS (
          SELECT bin, c, cumc, lo, hi, n, q
          FROM cum, bounds, UNNEST([0.25, 0.5, 0.9, 0.99]) AS t(q)),
        cand AS (
          SELECT q, bin,
                 round(lo + (bin + least(greatest(
                         (q * (n - 1) + 1 - (cumc - c)) / c, 0.0), 1.0))
                       * (hi - lo) / 1000.0, 6) AS est
          FROM wq WHERE cumc >= q * (n - 1) + 1)
        SELECT q, min_by(est, bin) AS est FROM cand GROUP BY q
    """, Plan(
    # bounds 1-row agg + n_bins histogram agg + bounded global window:
    # the SinglePartition nodes run over <= n_bins rows by construction
    shuffles=4, must=["Window"], must_not=["SortMergeJoin", "CartesianProduct"],
    bounded_window="window over <= n_bins histogram rows",
))
def q_quantile_sketch(spark, sf_dir):
    """Approximate quantiles by equi-width histogram interpolation:
    n_bins-bounded mergeable state, engine-portable arithmetic (unlike
    percentile_approx/approx_quantile, which can never be compared)."""
    return histogram_quantiles(
        _t(spark, sf_dir, "orders"), "o_totalprice", [0.25, 0.5, 0.9, 0.99], 1000
    )


@GATES.gate("data_quality", """
        WITH w AS (
          SELECT count(*) AS n,
                 sum(CASE WHEN coalesce(o_totalprice > 0, FALSE)
                          THEN 0 ELSE 1 END) AS v1,
                 sum(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END) AS v2,
                 sum(CASE WHEN coalesce(o_orderpriority IN
                       ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'),
                       FALSE) THEN 0 ELSE 1 END) AS v3,
                 sum(CASE WHEN coalesce(o_orderstatus IN ('O','F','P'), FALSE)
                          THEN 0 ELSE 1 END) AS v4,
                 sum(CASE WHEN coalesce(o_custkey >= 0, FALSE)
                          THEN 0 ELSE 1 END) AS v5
          FROM orders),
        s AS (
          SELECT 'totalprice_positive' AS rule, n, v1 AS v FROM w
          UNION ALL SELECT 'orderdate_present', n, v2 FROM w
          UNION ALL SELECT 'priority_known', n, v3 FROM w
          UNION ALL SELECT 'status_domain', n, v4 FROM w
          UNION ALL SELECT 'custkey_nonnegative', n, v5 FROM w)
        SELECT rule, n::BIGINT AS n_rows, v::BIGINT AS n_violations,
               round(v / n, 6) AS violation_rate
        FROM s
    """, Plan(
    # all rules fold into ONE wide aggregate: the only Exchange is the
    # 1-row partial-state reduce (hence SinglePartition is expected)
    shuffles=1, must=["HashAggregate"], must_not=["Window", "CartesianProduct"],
))
def q_data_quality(spark, sf_dir):
    """Data-quality expectations over orders: named boolean rules
    (completeness, ranges, domain membership) evaluated in ONE wide
    aggregate pass; per-rule violation counts + rates. NULL predicate =
    violation (an unknown is not a pass)."""
    o = _t(spark, sf_dir, "orders")
    return validate_rules(
        o,
        {
            "totalprice_positive": F.col("o_totalprice") > 0,
            "orderdate_present": F.col("o_orderdate").isNotNull(),
            "priority_known": F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
            "status_domain": F.col("o_orderstatus").isin("O", "F", "P"),
            "custkey_nonnegative": F.col("o_custkey") >= 0,
        },
    )


@GATES.gate("join_size_estimate", """
        WITH ska AS (
          SELECT t.j AS row,
                 CAST('0x' || substr(md5('cm' || t.j::VARCHAR || ':'
                                         || o_custkey::VARCHAR), 1, 15)
                      AS BIGINT) % 8192 AS col,
                 count(*)::BIGINT AS cnt
          FROM orders, (VALUES (0), (1), (2), (3)) AS t(j) GROUP BY 1, 2),
        skb AS (
          SELECT t.j AS row,
                 CAST('0x' || substr(md5('cm' || t.j::VARCHAR || ':'
                                         || c_custkey::VARCHAR), 1, 15)
                      AS BIGINT) % 8192 AS col,
                 count(*)::BIGINT AS cnt
          FROM customer, (VALUES (0), (1), (2), (3)) AS t(j) GROUP BY 1, 2),
        ip AS (
          SELECT a.row, sum(a.cnt * b.cnt)::BIGINT AS ip
          FROM ska a JOIN skb b ON a.row = b.row AND a.col = b.col GROUP BY 1)
        SELECT (SELECT min(ip) FROM ip)::BIGINT AS est_join_size,
               (SELECT count(*) FROM orders
                JOIN customer ON o_custkey = c_custkey)::BIGINT AS exact_join_size
    """, Plan(
    # two bounded sketch builds + d*w-row product + exact-count twin;
    # the 1-row x 1-row cross join is the intended result assembly
    shuffles=8, must=["HashAggregate"],
    lint_wash="measured wash: merge on the exact arm's "
        "customer side A/B'd 0.96-0.98x at sf10 AND sf100 (same reasoning "
        "as set_ops); the gate's point is the sketch estimate — the exact "
        "arm is the verification baseline",
))
def q_join_size_estimate(spark, sf_dir):
    """Shuffle-free join-cardinality estimation: count-min sketches of
    orders.o_custkey and customer.c_custkey (one scan each, bounded
    state), inner-product estimate vs the exact join count. The
    'should I even run this join' planner primitive."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    est = cm_inner_product(
        cm_sketch(orders, "o_custkey", depth=4, width=8192),
        cm_sketch(cust, "c_custkey", depth=4, width=8192),
    )
    exact = orders.join(cust, orders.o_custkey == cust.c_custkey).agg(
        F.count(F.lit(1)).alias("exact_join_size")
    )
    return est.crossJoin(exact)


# r18: the partitioned layout is a pure re-layout of events, so the
# oracle computes the day-bounded aggregate from the source table
# directly; DuckDB's naive TIMESTAMP date_trunc matches the gate's
# timezone-free epoch-day arithmetic
@GATES.gate("partitioned_pruned_read", """
        SELECT 'd' || strftime(date_trunc('day', ts), '%Y%m%d') AS day,
               event_type,
               count(*)::BIGINT AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        WHERE 'd' || strftime(date_trunc('day', ts), '%Y%m%d')
              BETWEEN 'd20240105' AND 'd20240109'
        GROUP BY 1, 2
    """, Plan(
    # r18 storage-layout gates: the pruned read must carry the literal
    # day range in PartitionFilters (whole directories pruned before
    # any file opens) and spend its single shuffle on the final agg
    shuffles=1, must=["PartitionFilters: [isnotnull(day#"],
))
def q_partitioned_pruned_read(spark, sf_dir):
    """Partition-pruned read under the oracle gate (SURVEY §2.3 ext —
    previously pytest-only): events are written as a hive-partitioned
    day layout (operators.bucketing.write_partitioned), then read back
    through a literal range filter on the partition column, so the scan
    prunes whole day directories before any file opens (PartitionFilters
    carries the range — law-asserted; the r17 unpruned-partitioned-scan
    lint rule is asserted SILENT on this plan, closing the rule's
    negative loop). The day string is pure long arithmetic on the
    epoch-nanos ts (timefmt conventions — no session-timezone
    dependence), prefixed 'd' so partition-value type inference keeps it
    a string in both engines. At 100 TB this shape is the single biggest
    read lever: a day-bounded query over a day-partitioned store reads
    5/30ths of the directories here and 1/365th of a year-deep store."""
    ev = read_events(spark, sf_dir)
    date_str = F.date_add(
        F.lit("1970-01-01").cast("date"),
        F.floor(ns_to_seconds(F.col("ts")) / 86400).cast("int"),
    ).cast("string")
    day = F.concat(F.lit("d"), F.translate(date_str, "-", ""))
    staged = ev.select(
        "event_id", "event_type", "value", day.alias("day")
    )
    path = _scratch_dir("part_prune", sf_dir) + "/events_by_day"
    write_partitioned(staged, path, ["day"])
    back = spark.read.parquet(path).filter(
        (F.col("day") >= "d20240105") & (F.col("day") <= "d20240109")
    )
    return back.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# r18: bucketing is a pure physical re-layout — the oracle is the
# plain thinned join+aggregate over the source tables
@GATES.gate("bucketed_join_agg", """
        SELECT (o_custkey % 10)::BIGINT AS cust_bucket,
               count(*)::BIGINT AS n_lines,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(sum(l_quantity), 2) AS sum_qty
        FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey % 97 = 0
        GROUP BY 1
    """, Plan(
    # the bucketed co-located join: SMJ over co-partitioned pre-sorted
    # buckets — no exchange below the join (the 1 is the agg), no Sort
    # nodes (sorted-bucket scan, one file per bucket), and never a
    # broadcast (the merge hint pins the bucket path so a small-SF
    # broadcast cannot hide it)
    shuffles=1, must=["SortMergeJoin"], must_not=["Sort (", "BroadcastExchange"],
    # r18: the single merge hint that pins the bucket-co-located SMJ
    # (ResolvedHint counts every hint kind); no broadcast hints
    hints=1,
))
def q_bucketed_join_agg(spark, sf_dir):
    """Bucketed co-located join under the oracle gate (SURVEY §2.3 ext —
    previously pytest-only): orders and lineitem are bucketed AND
    sorted by orderkey into managed tables (under the process's scratch
    root when get_spark built the session, so concurrent drivers cannot
    clobber each other), then the merge-hinted join reads co-partitioned,
    pre-sorted buckets — ZERO exchange and ZERO sort below the join at
    every SF (law-asserted; the hint pins SMJ so a small-SF broadcast
    cannot hide the bucket path). Both inputs are thinned 97x by a
    pushed orderkey modulus so the staging write stays cheap when the
    lint/oracle sweeps construct this gate at sf10/sf100; the thinning
    is semantics-neutral (same filter in the oracle). At 100 TB this is
    the repeated fact-fact join strategy: bucket once at write time,
    skip the orderkey exchange on every later join."""
    import hashlib as _hl

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            "o_custkey",
            "o_totalprice",
        )
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 97 == 0)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            "l_quantity",
            "l_extendedprice",
        )
    )
    t_o, t_li = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    # one FILE per bucket (repartition on the bucket key first):
    # Spark's sorted-bucket scan only elides the SMJ sorts when each
    # bucket is a single file — multi-file buckets are read as unsorted
    # and the join re-sorts 2x what the layout already paid for
    write_bucketed(
        o.repartition(8, "orderkey"),
        t_o, ["orderkey"], n_buckets=8, sort_cols=["orderkey"],
    )
    write_bucketed(
        li.repartition(8, "orderkey"),
        t_li, ["orderkey"], n_buckets=8, sort_cols=["orderkey"],
    )
    j = spark.table(t_o).hint("merge").join(spark.table(t_li), "orderkey")
    return j.groupBy((F.col("o_custkey") % 10).alias("cust_bucket")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )
