"""TPC-H gates, adapted to the trimmed testdata schema: each builder plans the
query the way it must run at 100 TB (pushed cuts, one fact scan, guarded
broadcasts), and its plan budget pins that shape."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from gates.common import Family, Plan, _t


GATES = Family()


@GATES.gate("tpch_q1", """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*)::BIGINT AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """, Plan(
    # r18: the ensure_parallelism round-robin exchange is gone — the one
    # remaining shuffle is the groupBy's partial->final reduce
    shuffles=1,
    must=["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"],
    fact_scans={"lineitem": 1},
))
def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary — the flagship scan+agg pipeline."""
    # r18: no ensure_parallelism — scan-bound pushed-filter aggregate; the
    # keyless exchange cost 2.8x the whole query at sf0.1 (A/B best-of-5:
    # 0.51 s direct vs 1.40 s through repartition(32)). At scale the scan
    # splits at maxPartitionBytes on its own.
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@GATES.gate("tpch_q3", """
        SELECT l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1997-06-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """, Plan(
    fact_scans={"lineitem": 1, "orders": 1, "customer": 1},
    hints=0,
    lint_wash="scan-level-cut recipe: customer mktsegment cut (~1/5 "
        "keys-only); sf100 dedicated census in-family (r14 22-shape table)",
))
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shipping-priority (adapted to this schema): 3-way join,
    date-range predicates pushed into both fact scans, top-10 by revenue."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1997-06-15").cast("timestamp_ntz")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Join order (r11, same discipline as q5's star rewrite): customer's
    # BUILDING cut keeps ~1/5 of customers, so orders meets customer FIRST —
    # a map-side hash join inside the orders scan stage (customer scales
    # with SF but stays the small side; AQE picks the strategy) — and only
    # the pre-shrunk orders go through the orderkey exchange+sort into the
    # fact-fact merge join. The old shape (li⋈orders, then cust) pushed 5x
    # the rows through the orders shuffle and the merge output; sf30 A/B
    # min 7.9->6.8 s, hash-equal at sf0.01/sf0.1 (inner joins commute).
    bo = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return (
        li.join(bo, li.l_orderkey == bo.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@GATES.gate("tpch_q5", """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """, Plan(
    fact_scans={"lineitem": 1, "orders": 1, "customer": 1},
    # r13: the supplier/customer cuts are scan-level isin() filters on
    # the collected (<=25-key) asia set, so the only hinted subtree left
    # is the post-aggregate n_name attach: region hint + asia_n hint
    hints=2,
))
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 local-supplier volume (adapted): 6-way star join —
    revenue per nation in one region.

    Scale shape (r10 rewrite, A/B-measured at sf10; r13 late
    materialization, A/B'd at sf100): the region predicate implies only
    ASIA-nation suppliers and customers can reach the result, so both
    fact-side inputs are REDUCED FIRST — the ≤25-row asia-nations dim
    broadcasts into supplier and customer, lineitem joins the 1/5-sized
    supplier set, orders joins the 1/5-sized customer set — and only
    then do the two pre-shrunk sides meet in the one big orderkey join
    (which also carries the local-supplier c_nationkey = s_nationkey
    equality). Inner joins commute, every predicate is preserved, and
    the big shuffle moves ~5x fewer rows than the canonical join order.
    The r13 change keeps the fact path KEYS-ONLY: grouping on
    s_nationkey and broadcast-joining n_name onto the <=25-row
    aggregate means the supplier build is a 2-column projection the
    static size-only estimator prices under the broadcast threshold —
    the r12 shape carried n_name through and statically planned SMJ,
    paying a 66.5 s fact-wide suppkey shuffle WRITE at sf100 before AQE
    could flip the join (the q2 lesson; measured A/B in SCALE.md).
    Scaling tables keep AQE-decided strategies (no hints beyond the
    fixed dims)."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    asia_n = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    # LATE MATERIALIZATION (the q2 sf100 recipe, applied r13): the fact
    # path carries KEYS ONLY — supplier and customer reduce to 2-column
    # key builds (narrow join-derived projections price under the static
    # broadcast threshold, so no fact-wide suppkey/custkey exchange is
    # ever planned — the r12 shape carried n_name through the supplier
    # build and paid a 66.5 s fact-wide shuffle WRITE at sf100 that
    # AQE's broadcast conversion could not un-spend). n_name attaches
    # AFTER the aggregate, when the result is <=25 rows.
    # the asia nationkey set is a FIXED-SIZE dim artifact (<=25 longs
    # whatever the SF) — collecting it and filtering supplier/customer
    # by isin() makes both cuts SCAN-LEVEL (filter+project over the
    # file), which the size-only estimator prices at file-size x
    # column-ratio, UNDER the broadcast threshold; a join-derived cut
    # prices at the PRODUCT of its children and always lands over
    # (the r13 sf100 plan read: the 2-column keys-only join build still
    # planned SMJ and wrote the 600M-row suppkey exchange). This is the
    # collect a CBO would constant-fold; it is legal here exactly
    # because region x nation is SF-independent.
    asia_key_vals = sorted(
        r["n_nationkey"] for r in asia_n.select("n_nationkey").collect()
    )
    # empty-region slice: isin() requires >=1 value; the correct result
    # is empty, expressed as a literal-false scan filter
    asia_cut = (
        F.col("s_nationkey").isin(*asia_key_vals)
        if asia_key_vals
        else F.lit(False)
    )
    sup_k = (
        _t(spark, sf_dir, "supplier")
        .filter(asia_cut)
        .select("s_suppkey", "s_nationkey")
    )
    cust_k = (
        _t(spark, sf_dir, "customer")
        .filter(
            F.col("c_nationkey").isin(*asia_key_vals)
            if asia_key_vals
            else F.lit(False)
        )
        .select("c_custkey", "c_nationkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(sup_k, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(cust_k, F.col("o_custkey") == F.col("c_custkey"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_nation = (
        li.join(
            orders,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("s_nationkey")
        .agg(F.round(F.sum(rev), 2).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )
    return per_nation.join(
        F.broadcast(asia_n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("n_name", "revenue", "n_items")


@GATES.gate("tpch_q6", """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 24
    """, Plan(
    # pure scan-and-agg: every predicate in the scan, the only Exchanges
    # are the 1-row ungrouped-agg partial+final pair
    shuffles=2,
    must=["PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)"],
    must_not=["Window", "CartesianProduct"],
    fact_scans={"lineitem": 1},
))
def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecasting-revenue-change: the pure scan-and-aggregate
    shape — every predicate pushed into the parquet scan (date range,
    discount band, quantity cap), zero joins, one 1-row combinable agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@GATES.gate("tpch_q14", """
        SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4)
                 AS promo_revenue_pct,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
    """, Plan(
    # date-bounded fact scan + part join (AQE-decided) + 1-row agg
    shuffles=4,
    must=["PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    fact_scans={"lineitem": 1},
))
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 promotion effect (adapted): date-bounded fact scan
    joined to part, promo share via conditional aggregation — the
    classic selective-join + CASE-agg shape. part scales with SF, so
    the join is AQE-decided, not forced broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"),
        F.round(F.sum(rev), 2).alias("total_revenue"),
    )


@GATES.gate("tpch_q4", """
        SELECT o_orderpriority, count(*)::BIGINT AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """, Plan(
    # decorrelated EXISTS: ONE semi join (orders never duplicated by
    # matching lineitems), date predicates pushed into the orders scan
    shuffles=4,
    must=["Semi", "PushedFilters: [IsNotNull(o_orderdate)"],
    must_not=["CartesianProduct"],
    fact_scans={"lineitem": 1, "orders": 1},
))
def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 order-priority checking (adapted: the trimmed testdata
    lineitem has no commit/receipt dates, so the EXISTS predicate is
    'order has a returned line item' — same decorrelated-EXISTS shape):
    date-windowed orders LEFT SEMI joined to the qualifying lineitem
    keys, one priority-keyed count. The semi-join never duplicates
    orders rows however many lineitems match — exactly what EXISTS
    compiles to, and the scale reason to prefer it over a join+distinct."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@GATES.gate("tpch_q18", """
        SELECT c_name, c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               o_totalprice,
               round(sum(l_quantity), 2) AS total_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """, Plan(
    # HAVING subquery folded into the report: ONE lineitem scan+agg
    # drives the joins (r9 rewrite — the semi-join + re-join + re-group
    # form scanned the fact table twice); top-100 via TakeOrdered
    shuffles=5,
    must=["TakeOrderedAndProject"],
    must_not=["CartesianProduct", "GlobalSort"],
    fact_scans={"lineitem": 1, "orders": 1, "customer": 1},
))
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 large-volume customers (threshold 200 for this SF):
    the HAVING-subquery shape, but planned the way a column engine
    should — the per-order quantity aggregate that decides WHICH orders
    qualify IS the report's total_qty, so lineitem is scanned and
    aggregated ONCE and the filtered (tiny) result joins orders and
    customer directly. The canonical SQL's semi-join + re-join +
    re-group (how r8 wrote it: two full lineitem scans) computes the
    identical rows — the oracle keeps that form, this plan halves the
    fact-table work. Top-100 by price via TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 200)
        .select("l_orderkey", F.round(F.col("__qty"), 2).alias("total_qty"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@GATES.gate("tpch_q10", """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                        AS BIGINT))::BIGINT AS revenue_e4,
               count(*)::BIGINT AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue_e4 DESC, c_custkey
        LIMIT 20
    """, Plan(
    # returned-item report: pushed date/returnflag predicates, nation the
    # only forced broadcast, top-20 via TakeOrdered; revenue is an exact
    # fixed-point long so the cut is deterministic
    shuffles=6,
    must=["TakeOrderedAndProject", "PushedFilters: [IsNotNull(o_orderdate)"],
    must_not=["CartesianProduct", "GlobalSort"],
    fact_scans={"lineitem": 1, "orders": 1, "customer": 1},
))
def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 returned-item reporting (adapted to the trimmed
    schema): one quarter of orders joined to their RETURNED lineitems,
    revenue per customer, nation name attached from the fixed 25-row
    dim (broadcast — the only forced hint), top-20 customers via
    TakeOrderedAndProject (never a global sort). The
    selective-fact-join + group + top-k report shape.

    Revenue is an INTEGER-EXACT fixed-point long: price and discount
    both carry 2 decimals, so per-row revenue*1e4 rounds to an exact
    integer in any engine and the sum is reassociation-free — a
    round(sum(double), 2) here sat exactly on a .xx5 tie at sf0.01 and
    flipped between Spark and DuckDB (the finalize_agg_state hazard);
    the exact long also makes the top-20 cut fully deterministic."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev_e4).alias("revenue_e4"),
             F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue_e4").desc(), "c_custkey")
        .limit(20)
    )


@GATES.gate("tpch_q13", """
        SELECT c_count::BIGINT AS c_count, count(*)::BIGINT AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey)
        GROUP BY c_count
    """, Plan(
    # group-then-regroup distribution: left join + per-customer count +
    # tiny re-aggregation; never a cartesian, never a global sort
    shuffles=4, must=["HashAggregate"], must_not=["CartesianProduct", "GlobalSort"],
    fact_scans={"orders": 1, "customer": 1},
))
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 customer order-count distribution: LEFT join keeps
    zero-order customers, count per customer, then re-aggregate the
    counts into a distribution — the group-then-regroup shape no other
    gate covers. Scale note: the per-customer groupBy keys on the SAME
    column the join keyed on, so Catalyst reuses the join's
    partitioning and the first aggregate is shuffle-free; only the
    tiny distribution re-group (<= distinct counts rows) shuffles
    again."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@GATES.gate("tpch_q17", """
        SELECT round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     / 700.0, 2) AS avg_yearly,
               count(*)::BIGINT AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23' AND p_size < 25
          AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """, Plan(
    # correlated scalar folded into ONE windowed pass over the part-cut
    # rows: the only Exchanges are the partkey window shuffle + the 1-row
    # agg pair — never a second fact scan (see FACT_SCAN_BUDGET)
    shuffles=2, must=["Window"], must_not=["CartesianProduct", "GlobalSort"],
    fact_scans={"lineitem": 1, "part": 1},
    # part cut scales with SF — AQE-decided
    hints=0,
    lint_wash="scan-level-cut recipe: part cut, audited at 2 "
        "shuffles with the windowed one-pass shape (r12)",
    bounded_window="the window IS keyed (partitionBy l_partkey); the SinglePartition "
        "the blunt co-occurrence rule sees is the final 1-row aggregate's "
        "partial-state reduce (audited at 2 shuffles)",
))
def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 small-quantity-order revenue (adapted: p_container is not
    in the trimmed part schema, so the cut is p_brand + p_size<25): the
    CORRELATED-SCALAR shape — each branded part's lineitems compare
    against 0.2x that part's own average quantity.

    Window vs group-then-rejoin, decided for 100 TB: the correlated avg is
    per-partkey over lineitems of qualifying parts only (partkey determines
    the part cut, so pre-joining the cut commutes with the per-key avg), so
    the reduced fact joins the part cut ONCE and an avg().over(partitionBy
    l_partkey) computes threshold + detail in a SINGLE pass — one exchange
    +sort of the already-cut rows. The group-then-rejoin alternative either
    recomputes the join (second fact scan — the q18 double-scan cliff) or
    shuffles twice when the per-part avg table outgrows broadcast (branded
    parts still scale with SF). The part-cut join itself is hint-free:
    part scales with SF, AQE picks broadcast while it fits.

    Revenue is summed as exact e2 fixed-point (the q10 .xx5-tie lesson);
    the quantity threshold is deterministic cross-engine because integral
    doubles sum exactly in any order. Reference: TPC-H spec Q17."""
    part_cut = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") < 25))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    lj = li.join(part_cut, li.l_partkey == part_cut.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pavg = F.avg("l_quantity").over(Window.partitionBy("l_partkey"))
    price_e2 = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    return (
        lj.withColumn("__pavg", pavg)
        .filter(F.col("l_quantity") < 0.2 * F.col("__pavg"))
        .agg(
            F.round(F.sum(price_e2) / 700.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@GATES.gate("tpch_q21", """
        SELECT s_name, count(*)::BIGINT AS numwait
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND n_regionkey = 2
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """, Plan(
    # r15 single-scan rewrite: the EXISTS pair runs as ONE
    # groupBy(orderkey) of min/max/sum aggregates (no Expand, no
    # distinct), so no semi/anti may appear; the orders join holds a
    # MERGE anti-broadcast guard (static estimator under-prices the
    # 1-col SF-scaling projection — the q9 trap; merge over
    # shuffle_hash because the SHJ build cannot spill — q9's A/B
    # hard-failed on exactly this shape, SCALE.md r15), and its sorts
    # are dim-scale: the fact side never sorts (it is consumed by the
    # hash aggregate before any join)
    shuffles=3,
    must=["SortMergeJoin", "TakeOrderedAndProject"],
    must_not=[
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "GlobalSort",
        "Semi",
        "Anti",
    ],
    # r15 single-scan rewrite: the whole EXISTS pair folds into one
    # per-order min/max aggregate — exactly ONE fact scan (was the
    # canonical 3); a second scan is a regression to the semi/anti form
    fact_scans={"lineitem": 1, "orders": 1, "supplier": 1},
    # nation's broadcast + the orders MERGE hint (the q9-family
    # anti-broadcast guard: the 1-col orders projection prices under
    # threshold and would statically broadcast a 15M-row HashedRelation
    # at sf100 — measured +120% wall; merge, NOT shuffle_hash — the SHJ
    # build cannot spill and hard-failed q9's sf100 A/B); supplier
    # stays AQE-decided
    hints=2,
    lint_wash="measured wash: sup_cut broadcast A/B'd 1.04-1.05x at "
        "sf10 AND sf100 — the flagged exchange carries the post-aggregate "
        "qualifier set, already collapsed by map-side partials",
))
def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 suppliers-who-kept-orders-waiting (adapted: the trimmed
    lineitem has no commit/receipt dates, so 'late' is l_returnflag='R';
    one region's nations stand in for the single-nation cut): the
    DOUBLE SEMI/ANTI shape — EXISTS(another supplier on the order) AND
    NOT EXISTS(another LATE supplier on the order), both against the same
    fact with an inequality (suppkey <>) riding the orderkey equi-join.

    Plan — the SINGLE-SCAN per-order-aggregate rewrite (r15; the q18
    recipe from SCALE.md:327 applied to the exists-pair shape, replacing
    the canonical 3-fact-reference plan whose sf100 calibrated ratio was
    74.4, the suite's worst). The EXISTS pair has an order-level
    restatement (law-tested since r12 at
    tests/test_round12_ops.py:66): for a late l1 row with supplier s,
    EXISTS(other supplier) == the order carries >= 2 distinct suppliers,
    and NOT EXISTS(other late supplier) == the order carries EXACTLY ONE
    distinct late supplier (l1 itself is late, so that one IS s). Then
    every late row of a qualifying order belongs to that single late
    supplier, so the per-supplier wait count is just the order's
    late-row count. The distinct-count conditions are MIN/MAX laws — no
    distinct aggregation (no Expand, no pair-level dedup hash table) is
    ever built: >=2 distinct suppliers iff min(sk) != max(sk); exactly
    one distinct late supplier iff min(late sk) == max(late sk) (non-
    null equality also enforces >=1 late row); that shared value IS the
    waiting supplier. So: ONE scan of lineitem into ONE
    groupBy(l_orderkey) of five plain min/max/sum aggregates, whose
    map-side partials collapse the ~4 lines/order BEFORE the only
    fact-scale exchange (the first pair-level draft of this rewrite
    built a ~|fact|-group hash table and measured 58.9 s / ratio 51 at
    sf100; this form measures ~2x better — SCALE.md r15). The filtered
    qualifiers (tiny, still ok-partitioned) inner-join orders
    (status='F', 1-column projection, MERGE-hinted: the q9
    anti-broadcast guard — the static estimator prices the narrow
    SF-scaling projection under the broadcast threshold and would ship
    a 15M-row HashedRelation at sf100, measured +120% wall. merge over
    shuffle_hash by MEASURED robustness: the two are a wash at sf100
    (22.5 s vs 25.3 s best, overlapping walls) but q9's same-shape
    shuffle_hash A/B HARD-FAILED with 'cannot acquire memory to build
    hash relation' — the SHJ build cannot spill, while SMJ's sorts
    here are dim-scale, not fact-scale — SCALE.md r15) and the
    region-supplier dim (nation broadcast; supplier AQE-decided), then
    groupBy(s_name) sums the per-order wait counts. Fact scans: 3 -> 1;
    fact-scale exchanges: 3 + 3 fact sorts -> 1 post-partial hash
    exchange with no fact-scale sort. Reference: TPC-H spec Q21."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_returnflag") == "R").cast("int").alias("is_late"),
    )
    late_sk_expr = F.when(F.col("is_late") == 1, F.col("l_suppkey"))
    per_order = li.groupBy("l_orderkey").agg(
        F.min("l_suppkey").alias("min_sk"),
        F.max("l_suppkey").alias("max_sk"),
        F.min(late_sk_expr).alias("min_late_sk"),
        F.max(late_sk_expr).alias("max_late_sk"),
        F.sum("is_late").alias("waits"),
    )
    qual = per_order.filter(
        (F.col("min_sk") != F.col("max_sk"))
        & (F.col("min_late_sk") == F.col("max_late_sk"))
    ).select(
        "l_orderkey", F.col("max_late_sk").alias("late_sk"), "waits"
    )
    orders_f = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    sup_cut = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        qual.join(
            orders_f.hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(sup_cut, F.col("late_sk") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("waits").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@GATES.gate("tpch_q2", """
        WITH rs AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
          WHERE n_regionkey = 1
        )
        SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name,
               round(l_extendedprice / l_quantity, 4) AS unit_price
        FROM part
        JOIN lineitem l ON p_partkey = l_partkey
        JOIN rs ON l.l_suppkey = rs.s_suppkey
        WHERE p_size = 15
          AND l_extendedprice / l_quantity = (
              SELECT min(l2.l_extendedprice / l2.l_quantity)
              FROM lineitem l2 JOIN rs r2 ON l2.l_suppkey = r2.s_suppkey
              WHERE l2.l_partkey = p_partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """, Plan(
    # min-per-group correlated subquery as a window over the doubly-cut
    # fact; top-100 via TakeOrdered, never a global sort
    shuffles=3,
    must=["Window", "TakeOrderedAndProject"],
    must_not=["CartesianProduct", "GlobalSort"],
    # late materialization (r12 sf100 lesson): the cut+window run over
    # keys-only builds, the wide part/supplier attributes attach to the
    # ~100-row survivor set afterwards — the second scans are pushed
    # 2-column projections, the price of never shuffling the fact wide
    fact_scans={"lineitem": 1, "part": 2, "supplier": 2},
    # nation's hint sits inside the rs subtree, which late
    # materialization replays twice (keys-only cut + attribute attach);
    # r16 adds explicit broadcasts on both rs references (the
    # join-derived cut is bytes-product-priced over the threshold —
    # the q11 family, lint-caught; A/B in SCALE.md r16)
    hints=4,
    lint_wash="scan-level-cut recipe: the part p_size=15 cut prices "
        "~27 MB ACTUAL at sf100 (SCALE.md r12/r13) — broadcasting it is "
        "the landed fix, not the trap",
))
def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 minimum-cost supplier (adapted: there is no partsupp
    table, so lineitem unit price l_extendedprice/l_quantity plays
    ps_supplycost): the MIN-PER-GROUP CORRELATED SUBQUERY shape — for
    each size-15 part, every region-1 supplier whose unit price equals
    the minimum unit price any region-1 supplier charged for that part.

    Plan, designed for 100 TB: both cuts commute with the per-part min
    (the supplier cut IS the min's domain restriction; the part cut only
    removes whole partkey groups), so they land on the fact FIRST — the
    ≤25-row nation dim is always broadcast, the part join AQE-decided,
    and (r16) both rs references carry explicit broadcasts: the
    join-derived supplier cut is bytes-product-priced over the
    threshold (the q11 family — the static SMJ exchanged the part-cut
    fact slice on l_suppkey; lint-caught, 1.22x at sf10, A/B in
    SCALE.md r16) — and min().over(partitionBy l_partkey)
    computes threshold + detail in one pass over the doubly-cut rows
    (same window-vs-rejoin call as q17). Two r12 sf100 lessons are
    baked into the shape: (1) JOIN ORDER — Catalyst won't reorder
    without CBO stats, so the selective part cut (p_size=15, ~2%) joins
    lineitem before the supplier cut; the original supplier-first order
    shuffled the ENTIRE fact on suppkey (251 s dedicated at sf100).
    (2) LATE MATERIALIZATION — the cut + window run over KEYS ONLY
    (p_partkey / s_suppkey single-column builds, which the static
    size-only estimator prices under the broadcast threshold, so no
    fact-wide exchange is ever planned); the wide attributes (p_name,
    s_name, s_acctbal, n_name) attach AFTER the min-filter, when the
    survivor set is ~100s of rows. Carrying them through instead made
    the static planner pick SMJ and pay a 600M-row shuffle WRITE that
    AQE's broadcast conversion could no longer un-spend (63 s vs ~9 s
    dedicated at sf100; the second part/supplier scans are pushed
    2-column projections — scans are the cheap side). Equality on the
    raw IEEE
    quotient is engine-safe (both engines divide the same 2dp doubles);
    rounding happens only at projection. Ties at the min all survive, as
    in the canonical query; the DISTINCT collapses duplicate min-price
    lineitems of one (part, supplier). LIMIT 100 is deterministic: the
    sort key (acctbal, nation, supplier, partkey) is unique per output
    row. Reference: TPC-H spec Q2."""
    rs = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 1)
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part_cut = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey", "p_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    cut = (
        li.join(part_cut.select("p_partkey"),
                F.col("l_partkey") == F.col("p_partkey"))
        # r16: explicit broadcast on the join-derived rs keys cut — the
        # bytes-product estimate prices it over the threshold and the
        # static plan SMJ'd here, exchanging the part-cut fact slice on
        # l_suppkey (the q11 family, caught by the lint sf10 sweep;
        # 1.22x at sf10, wash at sf100 where AQE had flipped it anyway
        # AFTER writing the exchange — A/B in SCALE.md r16). Same
        # documented boundary as q11's hint: supplier is ~34 MB at
        # sf100; at SFs where even the cut outgrows broadcast, the
        # bloom_semi operator is the scale path.
        .join(F.broadcast(rs.select(F.col("s_suppkey").alias("rk"))),
              F.col("l_suppkey") == F.col("rk"))
        .withColumn("__unit", unit)
    )
    pmin = F.min("__unit").over(Window.partitionBy("l_partkey"))
    winners = (
        cut.withColumn("__pmin", pmin)
        .filter(F.col("__unit") == F.col("__pmin"))
        .select("l_partkey", "l_suppkey", "__unit")
    )
    return (
        winners.join(part_cut, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(rs), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round(F.col("__unit"), 4).alias("unit_price"),
        )
        .distinct()
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@GATES.gate("tpch_q19", """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_type IN ('SMALL', 'MEDIUM')
               AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_type IN ('MEDIUM', 'LARGE')
               AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#5' AND p_type IN ('ECONOMY', 'STANDARD', 'PROMO')
               AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """, Plan(
    # disjunctive OR-of-ANDs: ONE scan per table, ONE compound filter —
    # the union rewrite (3 fact scans) must never appear
    shuffles=2, must=["HashAggregate"], must_not=["Union", "CartesianProduct"],
    # the disjunctive shape's whole point: never the 3-branch union
    fact_scans={"lineitem": 1, "part": 1},
    # part scales with SF — AQE-decided
    hints=0,
))
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 discounted revenue (adapted: p_container/l_shipmode
    don't exist, so p_type plays the container list): the DISJUNCTIVE
    OR-of-ANDs shape — three (brand, type-set, size-range,
    quantity-range) branches OR'd into one predicate that references
    BOTH join sides.

    Plan, designed for 100 TB: the point of this shape is what the
    engine does NOT do — no three-branch UNION (which would scan the
    fact three times), no cartesian fallback. Declared as ONE join with
    the disjunction as a post-join filter, Catalyst keeps one scan per
    table and evaluates the compound predicate on the joined rows; the
    branch predicates are all scan-pushable conjuncts within each
    branch, and the audit pins lineitem=1/part=1 scans so a union
    rewrite can never sneak in. part scales with SF, so its join
    strategy stays AQE-decided (no hint). Reference: TPC-H spec Q19."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_type").isin("SMALL", "MEDIUM")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_type").isin("MEDIUM", "LARGE")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#5")
        & F.col("p_type").isin("ECONOMY", "STANDARD", "PROMO")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(b1 | b2 | b3)
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@GATES.gate("tpch_q20", """
        SELECT s_name, s_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
          AND s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_partkey IN
                  (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
            GROUP BY l_partkey, l_suppkey
            HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                             AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                            THEN l_quantity END) > 0.5 * sum(l_quantity))
        ORDER BY s_name
    """, Plan(
    # nested semi-into-semi with the correlated 0.5*sum folded into one
    # conditional aggregate; both semis must survive as equi-joins
    shuffles=5,
    must=["LeftSemi"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    fact_scans={"lineitem": 1, "part": 1, "supplier": 1},
    # the 25-row nation dim only; excess keys AQE-decided
    hints=1,
    lint_wash="scan-level-cut recipe: part name-cut semi build "
        "(r13 landed shape, audited LeftSemi)",
))
def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 potential part promotion (adapted: no partsupp, so the
    'supply' relation is the (l_partkey, l_suppkey) grouping of lineitem
    and the availqty comparison becomes: more than half the pair's
    all-time quantity shipped in 1996): the DEEPEST NESTING in the
    suite — a name-prefix part cut feeds a semi-join, a correlated
    0.5*sum threshold filters the grouped pairs, and the surviving
    suppkeys semi-join INTO the nation-cut supplier list.

    Plan, designed for 100 TB: the part cut lands on the fact FIRST
    (left_semi on a keys-only build — the q2/q5 late-materialization
    discipline), so the (partkey, suppkey) aggregation shuffles only the
    name-matched fraction of lineitem. The correlated '0.5 * sum over
    the same group' is ONE conditional aggregate in the same groupBy
    pass (the q17 window-vs-rejoin decision: threshold and detail come
    from one pass, never a re-join of the fact against its own
    aggregate). The excess-suppkey set is aggregation-small, so its
    semi into supplier is AQE-decided; nation (25 rows) is the only
    forced broadcast. Reference: TPC-H spec Q20."""
    pkeys = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .join(pkeys, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    in_96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty_total"),
        F.sum(F.when(in_96, F.col("l_quantity"))).alias("qty96"),
    )
    excess_keys = (
        per_ps.filter(F.col("qty96") > 0.5 * F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    nation3 = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation3), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(excess_keys, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@GATES.gate("tpch_q11", """
        WITH per_part AS (
            SELECT l_partkey AS partkey,
                   CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100)
                        AS BIGINT) AS value_cents
            FROM lineitem
            WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                                JOIN nation ON s_nationkey = n_nationkey
                                WHERE n_name = 'NATION_7')
            GROUP BY l_partkey)
        SELECT partkey, value_cents
        FROM per_part
        WHERE value_cents * (SELECT count(*) FROM per_part)
              > 3 * (SELECT sum(value_cents) FROM per_part)
        ORDER BY value_cents DESC, partkey
    """, Plan(
    # group-agg vs global scalar: the 1-row threshold joins back as a
    # broadcast; the duplicated per_part aggregation subtree collapses
    # at RUNTIME (AQE stage reuse — asserted in RUNTIME_REUSE below,
    # because the static formatted plan prints the subtree twice)
    shuffles=4, must=["BroadcastExchange"], must_not=["CartesianProduct"],
    # the static plan prints the duplicated per_part subtree (2 scans);
    # RUNTIME_REUSE asserts AQE collapses it to one executed scan
    fact_scans={"lineitem": 2, "supplier": 2},
    # nation's hint + the r15 semi-build hint (the keys-only supplier
    # cut is join-derived, so the bytes-product estimate OVER-prices it
    # and the static plan exchanged the ENTIRE fact on suppkey — the
    # q9 trap's inverse; 5.8x at sf100) each replay in both prints of
    # the per_part subtree (detail + threshold) + the 1-row global
    # threshold's own hint
    hints=5,
    runtime_reuse={"lineitem": 1},
))
def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 important stock (adapted: no partsupp, so per-part
    'value' is the discounted revenue its NATION_7-supplied lineitems
    carry): the GROUP-AGGREGATE-VS-GLOBAL-SCALAR shape — parts whose
    value exceeds a threshold computed as a global aggregate OVER THE
    SAME grouped data (canonical HAVING sum > fraction * global sum;
    here 3x the mean part value, which is scale-free where the spec's
    0.0001/SF fraction needs the SF as an input).

    Plan, designed for 100 TB: the nation cut reduces the fact via a
    keys-only semi FIRST — with an EXPLICIT broadcast on the supplier
    build (r15): the build is suppliers/25, a single 8-byte column, 4+
    orders of magnitude under the fact, but it is join-derived
    (supplier x nation), so the static bytes-PRODUCT estimate prices it
    over the threshold and plans SMJ — exchanging the ENTIRE fact on
    l_suppkey, a shuffle AQE's late broadcast flip cannot un-spend
    (read from the sf100 executed plan: `Exchange hashpartitioning(
    l_suppkey)` under `AQEShuffleRead local` + BroadcastHashJoin — the
    shuffle was materialized, then ignored). This was the r14 table's
    "structural" ratio-30.4 row; the hint measures 3.5x better at sf100
    (SCALE.md r15) and completes the q9/q21 product-rule family: q9
    guards a fact UNDER-priced into a broadcast, q11 a dim-cut
    OVER-priced out of one. At SFs extreme enough that even the
    keys-only cut outgrows broadcast (~40M keys at SF 100k), the
    documented scale path is the bloom_semi operator (same probe-side
    never-shuffles property, constant-size build). ONE
    groupBy(l_partkey) aggregation produces per-part values, and the
    1-row global threshold joins back as a broadcast — the per_part
    subtree appears twice in the DAG but Spark's ReuseExchange
    collapses the duplicated aggregation, so the fact is scanned and
    shuffled ONCE (asserted in the plan audit).
    Values are exact cent longs (round(sum*100)), and the 3x-mean
    threshold is compared in INTEGER space — value_cents * count >
    3 * sum(value_cents), all longs — because Spark's AVG over longs
    sums in double (order-dependent) while DuckDB's integer AVG is
    exact, so a double threshold could differ by ulps between engines
    (r13 advice). Long headroom: at sf100, 3*sum ~ 7e15 and
    value_cents*count ~ 2e16, both far under 2^63. Reference: TPC-H
    spec Q11."""
    n7_supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(
            F.broadcast(n7_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(
        F.round(F.sum(rev) * 100, 0).cast("long").alias("value_cents")
    )
    thr = per_part.agg(
        F.sum("value_cents").alias("__sum"), F.count(F.lit(1)).alias("__cnt")
    )
    return (
        per_part.crossJoin(F.broadcast(thr))
        .filter(F.col("value_cents") * F.col("__cnt") > F.lit(3) * F.col("__sum"))
        .select(F.col("l_partkey").alias("partkey"), "value_cents")
        .orderBy(F.col("value_cents").desc(), "partkey")
    )


@GATES.gate("tpch_q22", """
        WITH sel AS (
            SELECT substring(c_name, 17, 2) AS cntrycode, c_custkey, c_acctbal
            FROM customer
            WHERE substring(c_name, 17, 2)
                  IN ('13', '31', '23', '29', '30', '18', '17'))
        SELECT cntrycode,
               count(*)::BIGINT AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM sel
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM sel WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY cntrycode
        ORDER BY cntrycode
    """, Plan(
    # anti-join + 1-row avg broadcast + substring buckets; the BNLJ of a
    # 1-row build is the intended threshold attach, so only a cartesian
    # is forbidden
    shuffles=6, must=["HashAggregate"], must_not=["CartesianProduct"],
    # the scalar-avg branch is a second pushed 3-column scan by design
    fact_scans={"customer": 2, "orders": 1},
    # the 1-row positive-balance average + the r16 MERGE guard on the
    # date-cut orders anti build (lint-caught q9 window: keys-only
    # SF-scaling projection priced under threshold at sf10)
    hints=2,
))
def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 global sales opportunity (adapted: no c_phone, so the
    country code is the last two digits of c_name; 'no orders ever'
    never happens in this data, so the anti-join target is orders since
    2000 — lapsed customers): ANTI-JOIN + GLOBAL SCALAR AVG SUBQUERY +
    SUBSTRING BUCKETING in one query.

    Plan, designed for 100 TB: the scalar average forces a second
    reference to customer — kept as a second SCAN (3-column pushed
    projection with the same pushed bucket filter) rather than a
    single-partition global window over the bucket cut, which would
    funnel every selected customer through one task at scale; the
    positive-balance average broadcasts as a 1-row threshold; the
    anti-join probes the date-cut orders projection (o_custkey only),
    MERGE-hinted (r16: the lint sf10 sweep caught the q9 window live —
    the keys-only projection prices at file x 1/9 columns, 40 MB < the
    64 MB threshold at sf10, statically broadcasting a 3.7M-key
    SF-scaling build; merge measures 1.85-2.10x at sf10 and is a
    within-noise no-op at sf100 where the estimate prices over on its
    own — A/B in SCALE.md r16). The final per-code rollup is a
    25-ish-row aggregate. Reference: TPC-H spec Q22."""
    codes = ["13", "31", "23", "29", "30", "18", "17"]
    sel = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal", F.substring("c_name", 17, 2).alias("cntrycode"))
        .filter(F.col("cntrycode").isin(*codes))
    )
    avg_bal = sel.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return (
        sel.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(
            recent.hint("merge"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@GATES.gate("tpch_q7", """
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               year(l_shipdate)::INTEGER AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE ((sn.n_name = 'NATION_5' AND cn.n_name = 'NATION_12')
               OR (sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_5'))
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1, 2, 3
        ORDER BY supp_nation, cust_nation, l_year
    """, Plan(
    # symmetric two-nation predicate: both dim cuts are scan-level
    # isin() filters (pushed In predicates), the pair OR runs post-join
    # on nationkeys — never a cartesian, never a second nation scan
    shuffles=5,
    must=["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    # r14: both nation cuts are scan-level — one scan per fact/dim side
    fact_scans={"lineitem": 1, "orders": 1, "customer": 1, "supplier": 1},
    # r14: q7's cuts are scan-level isin() and names attach as a CASE
    # over the collected pair — zero hints anywhere
    hints=0,
))
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 volume shipping: the SYMMETRIC TWO-NATION predicate —
    revenue shipped between two specific nations (either direction),
    bucketed by (supp_nation, cust_nation, ship year). The first shape
    in the suite where the SAME dim cut must land on BOTH fact paths
    (supplier side of lineitem AND customer side of orders) and the
    pair predicate is an OR of the two orderings.

    Plan, designed for 100 TB: the two nationkeys are a FIXED-SIZE dim
    artifact (the q5 constant-fold — legal because nation is
    SF-independent), so BOTH cuts are SCAN-LEVEL isin() filters: the
    supplier and customer builds price at file-size x column-ratio,
    never at a join product (the r13 product rule). lineitem is cut by
    the pushed shipdate range + the 2/25 supplier set, orders by the
    2/25 customer set, and only the two pre-shrunk sides meet in the
    one big orderkey join. The OR-of-orderings runs on nationkeys AFTER
    that join (with only 2 keys on each side it excludes the two
    same-nation combos); names attach to the <=2x2x|years| aggregate as
    a driver-side CASE over the already-collected pair — no second
    nation scan, no hint. Reference: TPC-H spec Q7."""
    pair = ("NATION_5", "NATION_12")
    key_of = {
        r["n_name"]: r["n_nationkey"]
        for r in _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .collect()
    }
    # a nation missing from the dim makes the pair predicate
    # unsatisfiable — expressed as a literal-false scan filter (the q5
    # empty-slice guard; isin() needs >=1 value)
    complete = len(key_of) == 2
    keys = sorted(key_of.values())
    sup_k = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey").isin(*keys) if complete else F.lit(False))
        .select("s_suppkey", "s_nationkey")
    )
    cust_k = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(*keys) if complete else F.lit(False))
        .select("c_custkey", "c_nationkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(sup_k, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(cust_k, F.col("o_custkey") == F.col("c_custkey"))
    )
    k1, k2 = (key_of[pair[0]], key_of[pair[1]]) if complete else (-1, -2)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            ((F.col("s_nationkey") == k1) & (F.col("c_nationkey") == k2))
            | ((F.col("s_nationkey") == k2) & (F.col("c_nationkey") == k1))
        )
        .groupBy("s_nationkey", "c_nationkey", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
    )

    def name_of(col):
        return F.when(col == k1, F.lit(pair[0])).otherwise(F.lit(pair[1]))

    return per.select(
        name_of(F.col("s_nationkey")).alias("supp_nation"),
        name_of(F.col("c_nationkey")).alias("cust_nation"),
        "l_year",
        "revenue",
    ).orderBy("supp_nation", "cust_nation", "l_year")


@GATES.gate("tpch_q9", """
        SELECT n_name AS nation,
               year(o_orderdate)::INTEGER AS o_year,
               round(sum(l_extendedprice * (1 - l_discount)
                         - 0.5 * p_retailprice * l_quantity), 2) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
        ORDER BY nation, o_year DESC
    """, Plan(
    # profit rollup: the p_name cut is a pushed StringContains on the
    # part scan; all joins equi; nation attaches post-aggregate
    shuffles=5,
    must=[
        "PushedFilters: [IsNotNull(p_name), StringContains(p_name",
        "HashAggregate",
    ],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    fact_scans={"lineitem": 1, "orders": 1, "part": 1, "supplier": 1},
    # nation's broadcast + the orders MERGE hint (the ANTI-broadcast
    # guard: the size-only estimator under-prices the 2-col orders
    # projection and statically broadcasts the scaling fact — 2.8x
    # slower at sf10 and driver-killing at sf100; ResolvedHint counts
    # every hint kind, so the guard costs a budget slot)
    hints=2,
    lint_wash="scan-level-cut recipe: the p_name LIKE part cut "
        "carrying p_retailprice (r14 landed shape; the orders side holds "
        "the merge guard already)",
))
def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 product-type profit (adapted: no partsupp, so the unit
    supply cost is the deterministic part attribute 0.5 * p_retailprice
    — the q2 cost-adaptation recipe): profit per (supplier nation,
    order year) over parts whose name carries one color word. No
    selective nation filter exists here — all 25 nations group out —
    so the ONLY fact cut is the p_name LIKE cut.

    Plan, designed for 100 TB: the name-cut part build lands on the
    fact FIRST (the q20 recipe) and must carry p_retailprice (profit
    needs it per row — the cost term cannot be deferred past the
    aggregate), so it is a SCAN-LEVEL filter+project over the part file
    (2 of 6 columns; the r13 product rule — never a join-derived
    build). The supplier attach is keys-only (s_suppkey, s_nationkey —
    2 of 4 columns, broadcast-priced). orders contributes a 2-column
    (orderkey, year) projection via the one inherent orderkey join
    against the 1/8-cut fact — carrying an explicit MERGE hint, because
    this is the INVERSE of the r13 product rule: the size-only
    estimator prices the narrow projection at file-size x column-ratio
    UNDER the broadcast threshold and statically broadcasts the scaling
    FACT (measured at sf10: a 15M-row ~240 MB HashedRelation, 9.8 s
    warm; at sf100 that is a 150M-row broadcast — driver-killing on a
    real cluster). The merge hint is the anti-broadcast guard ANALYZE
    statistics would provide (3.46 s warm at sf10, 2.8x faster, and the
    only 100 TB-legal plan — A/B in SCALE.md). n_name attaches AFTER
    the <=25x|years| aggregate (late materialization). At sf100 the
    part cut prices above the static broadcast threshold (same boundary
    as q5's orders-side cut); AQE flips it at runtime.
    Reference: TPC-H spec Q9."""
    pc = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ord_y = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
        .hint("merge")
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.5
    ) * F.col("p_retailprice") * F.col("l_quantity")
    per = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_extendedprice",
            "l_discount",
            "l_quantity",
        )
        .join(pc, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(ord_y, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("s_nationkey", "o_year")
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )
    return (
        per.join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("n_name").alias("nation"), "o_year", "sum_profit")
        .orderBy("nation", F.col("o_year").desc())
    )


@GATES.gate("tpch_q15", """
        WITH per_supp AS (
            SELECT l_suppkey,
                   CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100)
                        AS BIGINT) AS total_revenue_cents
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
              AND l_suppkey IS NOT NULL
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue_cents
        FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue_cents = (SELECT max(total_revenue_cents)
                                     FROM per_supp)
        ORDER BY s_suppkey
    """, Plan(
    # argmax vs global max: the 1-row threshold joins back as a
    # broadcast; the duplicated per_supp subtree collapses at RUNTIME
    # (asserted in RUNTIME_REUSE, like tpch_q11)
    shuffles=4, must=["BroadcastExchange"], must_not=["CartesianProduct"],
    # the static plan prints the duplicated per_supp subtree (2 scans);
    # RUNTIME_REUSE asserts AQE collapses it to one executed scan
    fact_scans={"lineitem": 2, "supplier": 1},
    # the 1-row global max only; supplier AQE-decided
    hints=1,
    # q11's shape applied to argmax: per_supp feeds detail AND max
    runtime_reuse={"lineitem": 1},
))
def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 top supplier: the ARGMAX-VS-GLOBAL-AGGREGATE shape —
    the supplier(s) whose 3-month revenue EQUALS the maximum per-
    supplier revenue (all ties survive, as in the canonical view-based
    query).

    Plan, designed for 100 TB: ONE groupBy(l_suppkey) aggregation over
    the pushed shipdate slice produces per-supplier revenue; the 1-row
    global max joins back as a broadcast, and the duplicated per_supp
    subtree collapses at runtime via AQE exchange reuse (the q11 shape
    applied to argmax — asserted in the audit's RUNTIME_REUSE section),
    so the fact is scanned and shuffled ONCE. Revenue compares as an
    exact cent long (the q11 discipline): long-vs-long max equality is
    never an ulp coin flip in either engine. s_name attaches AFTER the
    max filter, when the survivor set is ~1 row. The explicit
    l_suppkey IS NOT NULL (mirrored in the oracle; vacuous in TPC-H
    data) keeps the two references to per_supp BYTE-IDENTICAL —
    without it, InferFiltersFromConstraints pushes isnotnull from the
    downstream supplier join into the detail branch's scan only, the
    exchanges differ, and AQE reuse cannot fire (found via the audit's
    RUNTIME_REUSE assertion). Reference: TPC-H spec Q15."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
            & F.col("l_suppkey").isNotNull()
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(
        F.round(F.sum(rev) * 100, 0).cast("long").alias("total_revenue_cents")
    )
    mx = per_supp.agg(F.max("total_revenue_cents").alias("__mx"))
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_cents") == F.col("__mx"))
        .join(
            _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue_cents")
        .orderBy("s_suppkey")
    )


@GATES.gate("tpch_q16", """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#45'
          AND p_type NOT LIKE 'MEDIUM%'
          AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_name LIKE '%7')
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """, Plan(
    # NOT IN decorrelated to a left anti equi-join; grouped
    # count-distinct is the two-exchange expand — never a cartesian.
    # r14b late-materialized group key: the extra shuffles are the
    # vocab-bounded bucket dim's distinct + row_number (<= |vocab
    # product| rows each); the fact-side exchanges now carry a dense
    # int bid instead of ~30 bytes of brand/type/size strings (3.2x
    # at sf100)
    shuffles=7,
    must=["Anti", "HashAggregate", "Window"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    # the static plan prints the vocab-bounded bucket-dim subtree twice
    # (partkey->bid build + final name attach) on top of the cut scan;
    # RUNTIME_REUSE asserts AQE collapses the replay (2 executed scans)
    fact_scans={"lineitem": 1, "part": 3, "supplier": 1},
    # the vocab-bounded bucket dim is hinted at both of its references
    # (partkey->bid build + final attach); part cut and blacklist stay
    # AQE-decided
    hints=2,
    # the bucket-dim broadcast is referenced twice (bid build + name
    # attach); byte-identical subtrees collapse to one executed scan
    # pair: 2 live part scans (cut + one bdim), never 3
    runtime_reuse={"part": 2},
    lint_wash="scan-level-cut recipe: the survivors part cut "
        "(p_size IN 8-of-50 + brand/type NOT-predicates, ~16% selective, "
        "~26 MB actual at sf100 vs 159 MB raw) broadcast-joined to the "
        "agg-bounded bucket dim — the landed r14 late-materialization "
        "shape, A/B'd 3.2x at sf100 (SCALE.md r14). Surfaced only in r17 "
        "when the agg exemption became per-branch (the raw cut branch is "
        "correctly no longer hidden by the sibling bdim aggregate)",
    bounded_window="row_number over the bucket dim — bounded by the brand x type x "
        "size vocabulary PRODUCT (SF-independent; the late-materialized "
        "group key)",
))
def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 parts/supplier relationship (adapted: no partsupp, so
    the supply relation is lineitem's (l_partkey, l_suppkey) pairs; no
    s_comment, so the complaint-supplier exclusion keys on the s_name
    suffix): NOT IN + GROUPED COUNT-DISTINCT — how many distinct
    suppliers can supply each surviving (brand, type, size) bucket,
    excluding a blacklisted supplier set.

    Plan, designed for 100 TB: the part cut is a SCAN-LEVEL
    filter+project (brand/type/size predicates all push to the parquet
    scan) landing on the fact before any aggregation; the NOT IN
    decorrelates to a LEFT ANTI equi-join against the blacklist —
    exactly equivalent here because both join keys are non-nullable
    (the nullable divergence, where one NULL in the NOT IN subquery
    empties the result, is proven as a law test in
    tests/test_round14_ops.py). No pre-distinct of the pairs is needed:
    count(DISTINCT l_suppkey) absorbs duplicate pairs in the aggregate
    itself, saving a full (partkey, suppkey) shuffle.

    LATE MATERIALIZATION (the q5/q2 recipe applied to a GROUP KEY,
    measured 3.2x at sf100 — 37.2 -> 11.8 s best, A/B in SCALE.md):
    the textbook plan drags the ~30-byte (p_brand, p_type, p_size)
    strings through every fact-side exchange AND the count-distinct
    Expand (which doubles the rows carrying them). Instead the group
    key travels as a dense int `bid` from a BUCKET DIM built off the
    same part cut — bounded by the attribute-vocabulary PRODUCT
    (<= 25 brands x type vocab x 50 sizes), SF-INDEPENDENT, so the
    single-partition row_number window over it is legal at any scale —
    and the strings attach to the <= |vocab-product|-row aggregate at
    the end. The bucket-dim subtree is referenced twice (partkey->bid
    build + final attach); both prints are byte-identical so AQE
    collapses the second into a ReusedExchange at runtime (the
    q11/q15 law — asserted in the audit's RUNTIME_REUSE section). The
    tie-safe sort (cnt desc, then the full group key) is
    deterministic. Reference: TPC-H spec Q16."""
    pc = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#45")
            & (~F.col("p_type").like("MEDIUM%"))
            & F.col("p_size").isin(49, 14, 23, 45, 19, 3, 36, 9)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bdim = (
        pc.select("p_brand", "p_type", "p_size")
        .distinct()
        .withColumn(
            "bid",
            F.row_number().over(
                Window.partitionBy(F.lit(1)).orderBy("p_brand", "p_type", "p_size")
            ),
        )
    )
    pk = pc.join(F.broadcast(bdim), ["p_brand", "p_type", "p_size"]).select(
        "p_partkey", "bid"
    )
    excl = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7"))
        .select("s_suppkey")
    )
    agg = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(pk, F.col("l_partkey") == F.col("p_partkey"))
        .join(excl, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("bid")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )
    return (
        agg.join(F.broadcast(bdim), "bid")
        .select("p_brand", "p_type", "p_size", "supplier_cnt")
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@GATES.gate("tpch_q8", """
        WITH per AS (
            SELECT year(o_orderdate)::INTEGER AS o_year,
                   CAST(sum(CASE WHEN s_nationkey =
                                      (SELECT n_nationkey FROM nation
                                       WHERE n_name = 'NATION_6')
                                 THEN round(l_extendedprice * 100)::BIGINT
                                      * round((1 - l_discount) * 100)::BIGINT
                                 ELSE 0 END) // 100
                        AS BIGINT) AS nation_volume_cents,
                   CAST(sum(round(l_extendedprice * 100)::BIGINT
                            * round((1 - l_discount) * 100)::BIGINT) // 100
                        AS BIGINT) AS total_volume_cents
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey
            WHERE r_name = 'AMERICA'
              AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1)
        SELECT o_year, nation_volume_cents, total_volume_cents,
               CAST(nation_volume_cents::HUGEINT * 10000
                    // total_volume_cents AS BIGINT) AS mkt_share_bp
        FROM per
        ORDER BY o_year
    """, Plan(
    # conditional market share: the customer cut is a pushed In() on the
    # scan, the part cut a pushed equality; the share divides exact cent
    # longs post-aggregate — never a cartesian, never a second nation
    # scan. The In() fragment asserts pushdown only — the exact key set
    # and print order are data/Spark-version dependent (r14 advice) and
    # verified value-wise in tests/test_round14_ops.py
    shuffles=4,
    must=["In(c_nationkey, [", "EqualTo(p_type,ECONOMY)", "HashAggregate"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    fact_scans={"lineitem": 1, "orders": 1, "customer": 1, "part": 1, "supplier": 1},
    # r14b: q8's cuts are scan-level isin()/equality, both orderkey
    # inputs are join-derived (product-priced, no q9 trap) — zero hints
    hints=0,
    lint_wash="scan-level-cut recipe x2: customer isin() + part "
        "equality cuts (r14; docstring documents both orderkey inputs as "
        "join-derived, so no q9 fact trap)",
))
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 national market share (p_type adapted to the testdata's
    single-word vocabulary): of all ECONOMY-part volume sold to
    AMERICA-region customers in 1995-1996, what share came from one
    supplier nation, per order year — the TWO-LEVEL CONDITIONAL-SHARE
    shape (a ratio of a conditional aggregate to its own group total).

    Plan, designed for 100 TB: the AMERICA nationkey set is a
    FIXED-SIZE dim artifact (the q5 constant-fold), so the customer cut
    is a SCAN-LEVEL isin() filter+project (1 of 5 columns — never a
    join-derived build, the r13 product rule); the part cut is the
    pushed p_type equality (1 of 6 columns); supplier attaches
    keys-only (2 of 4 columns, broadcast-priced). orders carries the
    pushed orderdate range and meets the part-cut fact in the one big
    orderkey join — both sides are join-derived there, so both price at
    the bytes-product and the planner keeps SMJ with AQE free to flip
    (no q9-style fact-broadcast trap: neither orderkey input is a bare
    narrow projection). The share is computed in EXACT INTEGER SPACE
    end to end (r15, closing the r14 advice): l_extendedprice and
    l_discount each carry exactly 2 decimals, so PER-ROW
    round(price*100) * round((1-disc)*100) is an exactly-representable
    integer in 1e-4-dollar units — the volume sums are integer sums
    (order-independent, engine-independent; never a rounded double
    accumulation whose half-cent boundary could differ between Spark
    and DuckDB), run as decimal(20,0)->decimal(30,0) so the SUMS cannot
    wrap (bound: per-row <= ~1e9 e4-units; even 1e13 filtered rows sums
    to 1e22 << 1e30). The binding bound is one operator later: cents =
    e4-sum div 100 returns a LONG, exact up to 9.2e18 cents = $9.2e16
    filtered volume — ~4,600x the ~2e16-cent 100 TB design point, and
    past it Spark wraps silently while DuckDB's HUGEINT->BIGINT cast
    raises, so THAT is the stated divergence boundary. The basis-point
    ratio multiplies in decimal(38,0) space before the div (cents*10^4
    alone would wrap a raw long at $9.2e12 — reachable at 100 TB,
    hence the decimal; DuckDB mirrors via HUGEINT) — `div` (Spark) and `//`
    (DuckDB) both truncate toward zero on every sign combo (proven as
    a law test; both diverge from Python's floor on mixed signs,
    irrelevant on this non-negative domain), so the gate is never an
    ulp coin flip. The target-nation CASE runs on s_nationkey against
    a constant-folded key — no second nation scan, no hint anywhere;
    the oracle compares s_nationkey to the same key via a scalar
    subquery rather than joining nation, so gate and oracle agree even
    on a dangling s_nationkey (no FK-integrity assumption).
    Reference: TPC-H spec Q8."""
    target = "NATION_6"
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nation = _t(spark, sf_dir, "nation")
    amer_keys = sorted(
        r["n_nationkey"]
        for r in nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        .select("n_nationkey")
        .collect()
    )
    target_key = next(
        (
            r["n_nationkey"]
            for r in nation.filter(F.col("n_name") == target).collect()
        ),
        -1,
    )
    cust_k = (
        _t(spark, sf_dir, "customer")
        .filter(
            F.col("c_nationkey").isin(*amer_keys) if amer_keys else F.lit(False)
        )
        .select("c_custkey")
    )
    ord_c = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .join(cust_k, F.col("o_custkey") == F.col("c_custkey"))
    )
    pc = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    vol_e4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    ).cast("decimal(20,0)")
    per = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(pc, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(ord_c, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("s_nationkey") == target_key, vol_e4).otherwise(
                    F.lit(0).cast("decimal(20,0)")
                )
            ).alias("nation_e4"),
            F.sum(vol_e4).alias("total_e4"),
        )
        .select(
            "o_year",
            F.expr("CAST(nation_e4 div 100 AS BIGINT)").alias(
                "nation_volume_cents"
            ),
            F.expr("CAST(total_e4 div 100 AS BIGINT)").alias(
                "total_volume_cents"
            ),
        )
    )
    return per.select(
        "o_year",
        "nation_volume_cents",
        "total_volume_cents",
        F.expr(
            "CAST(CAST(nation_volume_cents AS DECIMAL(38,0)) * 10000"
            " div total_volume_cents AS BIGINT)"
        ).alias("mkt_share_bp"),
    ).orderBy("o_year")


@GATES.gate("tpch_q12", """
        SELECT l_returnflag AS ret_mode,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS low_line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag IN ('A', 'R')
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY 1
        ORDER BY 1
    """, Plan(
    # cross-table lag predicate: returnflag In() + shipdate window both
    # push to the lineitem scan; the lag filter runs post-join; the
    # conditional counts collapse map-side to 2 rows
    shuffles=2,
    must=["In(l_returnflag, [A,R])", "HashAggregate"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "Union"],
    fact_scans={"lineitem": 1, "orders": 1},
    # orders projection prices over threshold — AQE-decided
    hints=0,
))
def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shipping-mode priority counts (adapted: no l_shipmode
    / l_commitdate / l_receiptdate in the testdata, so the two-mode
    filter+group key is l_returnflag IN ('A','R') and the late-line
    predicate is the CROSS-TABLE ship lag l_shipdate > o_orderdate + 60
    days — the shape's essence survives: a fact-fact join whose
    selective predicate spans BOTH tables and can only evaluate
    post-join, feeding a two-way conditional count on the other fact's
    priority attribute).

    Plan, designed for 100 TB: the returnflag In() and the shipdate
    year-window both push to the lineitem scan (3 of 11 columns); the
    orders side is a plain 3-of-6-column projection — wide enough that
    the size-only estimator prices it over the broadcast threshold at
    every interesting SF (no q9 fact-broadcast trap, verified in the
    static plan), so the one orderkey join is SMJ with AQE free to
    flip at toy scales. The lag predicate runs as a post-join filter
    (timestamp-vs-timestamp, exact in both engines); the conditional
    counts are integer sums (hash-exact by construction) with map-side
    partial aggregation collapsing the join output to 2 rows before
    the final 2-row exchange. Reference: TPC-H spec Q12."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_shipdate")
        .filter(
            F.col("l_returnflag").isin("A", "R")
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ret_mode"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ret_mode")
    )
