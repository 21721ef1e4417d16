"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2
(plus the extension operators: dedup / similarity / text analysis /
multimodal / windows). ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL
for each; the driver compares row-count + schema + order-insensitive value
hash at sf0.01.

Determinism conventions used throughout (SURVEY §7.3):
- group encounter-order semantics (first/last/concat) are pinned to an
  explicit order key — lineitem uses l_orderkey*10 + l_linenumber;
- doubles produced by multi-row arithmetic are round()ed (2dp money, 4-6dp
  ratios) so accumulation-order ULP noise can't flip the value hash;
- timestamps are emitted as wall-clock strings (the testdata is
  TIMESTAMP_NTZ, so formatting is session-timezone independent);
- integer-valued aggregates are cast to BIGINT on the DuckDB side (DuckDB
  sums integers into HUGEINT, which pandas mangles).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the driver may import this module by file path; make the sibling package
# importable regardless of the invoking process's cwd
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from bun_csv_spark.functions.coercion import (
    parse_boolean,
    parse_currency,
    parse_integer,
    parse_percent,
)
from bun_csv_spark.functions.text import (
    LANG_STOPWORDS,
    bpe_ish_token_count,
    detect_language,
    fingerprint,
    quality_features,
    token_count,
)
from bun_csv_spark.multimodal.binary import (
    attach_binary_payload,
    extract_binary_features,
)
from bun_csv_spark.operators.dedup import (
    dedup_exact,
    dedup_fingerprint,
    minhash_signatures,
    neardup_pairs_minhash,
    ngram_jaccard_pairs,
)
from bun_csv_spark.functions.coercion import dynamic_type
from bun_csv_spark.functions.vectors import l2_norm
from bun_csv_spark.operators.dedup import simhash64
from bun_csv_spark.operators.edits import EditLog
from bun_csv_spark.operators.frame import TurboFrame
from bun_csv_spark.operators.similarity import (
    ann_brute_force,
    ann_lsh_topk,
    knn_join_brute,
)
from bun_csv_spark.operators.stats import column_stats
from bun_csv_spark.operators.util import ensure_parallelism
from bun_csv_spark.streaming.windows import run_stream_to_table
from bun_csv_spark.functions.timefmt import (
    epoch_seconds_to_string,
    ns_to_string,
    ns_truncate,
)
from bun_csv_spark.sources.events import read_events


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Per-(gate, sf_dir, PROCESS) scratch directory, WIPED on entry —
    the staging gates (streaming replays, the incremental-dedup stores)
    re-use one path per invocation instead of leaking a fresh mkdtemp
    every call (bench warmups and repeated sweeps would otherwise
    accumulate orphans for the host's lifetime). The PID suffix keeps
    two concurrent drivers (e.g. bench + a sweep over the same sf_dir)
    from clobbering each other's staged state mid-query; dirs left by
    DEAD processes are reaped by age (>6h) on each call, so the
    leak-free property survives the per-process naming — but never dirs
    whose owning PID is still alive: an hours-long sweep's lazily
    re-read store must not vanish under it just because its mtime aged
    out. Liveness is PID + the _OWNER marker's kernel start time (r12:
    an unrelated process recycling the number no longer keeps a dead
    run's dir alive), and pre-r11 unsuffixed dirs fall under the same
    age rule. Each invocation fully rebuilds the dir, so callers must collect
    the returned DataFrame before invoking the same gate again IN THE
    SAME process."""
    import glob
    import hashlib
    import shutil
    import tempfile
    import time

    def proc_start(pid: int) -> "int | None":
        """Kernel start time (clock ticks) of a live process — the
        recycled-PID disambiguator. None where /proc is unavailable."""
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                st = fh.read()
            # field 22, counted after the last ')' (comm may hold spaces)
            return int(st[st.rindex(b")") + 2:].split()[19])
        except (OSError, ValueError, IndexError):
            return None

    base = f"bun_csv_gate_{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    tmp = tempfile.gettempdir()
    # the pre-r11 naming wrote exactly `base` (no PID suffix): those dirs
    # have no live owner running this code, so they go through the same
    # age rule as dead-PID dirs instead of leaking forever
    candidates = glob.glob(os.path.join(tmp, base + "_*"))
    legacy = os.path.join(tmp, base)
    if os.path.isdir(legacy):
        candidates.append(legacy)
    for old in candidates:
        if old == legacy:
            # the legacy dir's tail is the md5 prefix, which can be
            # all-decimal (~2% of tag/sf_dir combos) and collide with a
            # live PID — it has no owner by construction, so never
            # PID-parse it (r12 advice)
            pid = None
        else:
            try:
                pid = int(old.rsplit("_", 1)[-1])
            except ValueError:
                pid = None
        if pid is not None and pid != os.getpid():
            alive = False
            try:
                os.kill(pid, 0)  # scratch is host-local, so PIDs are too
                alive = True
            except ProcessLookupError:
                pass  # owner gone; the age rule below decides
            except OSError:
                alive = True  # EPERM etc.: assume alive, don't touch
            if alive:
                # a live PID may be an unrelated process that recycled the
                # number: the _OWNER marker records the creator's kernel
                # start time — a mismatch means the real owner is gone and
                # the age rule applies; no marker (pre-r12 dir) or no
                # /proc means we can't disambiguate, so stay conservative
                owner_start = None
                try:
                    with open(os.path.join(old, "_OWNER")) as fh:
                        owner_start = int(fh.read().split()[1])
                except (OSError, ValueError, IndexError):
                    pass
                live_start = proc_start(pid)
                if (
                    owner_start is None
                    or live_start is None
                    or owner_start == live_start
                ):
                    continue  # owner (apparently) alive — never reap
        try:
            if time.time() - os.path.getmtime(old) > 6 * 3600:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass
    d = os.path.join(tmp, f"{base}_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    me = proc_start(os.getpid())
    if me is not None:
        with open(os.path.join(d, "_OWNER"), "w") as fh:
            fh.write(f"{os.getpid()} {me}")
    return d


# Encounter-order key for lineitem (l_linenumber <= 7, so *10 is injective).
def _li_ord():
    return (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("__ord")


# ---------------------------------------------------------------------------
# Core relational surface (SURVEY §2.2, §2.3, §2.4, §2.6, §2.7)
# ---------------------------------------------------------------------------


def q_select_project(spark, sf_dir):
    """Column projection (dataframe.ts:95-105 -> df.select)."""
    return TurboFrame(_t(spark, sf_dir, "customer")).select("c_custkey", "c_name").df


def q_filter_numeric(spark, sf_dir):
    """CLI filter grammar, numeric compare (filter.ts:74-88)."""
    tf = TurboFrame(_t(spark, sf_dir, "customer"))
    return tf.filter("c_acctbal > 5000").select("c_custkey", "c_acctbal").df


def q_filter_compound(spark, sf_dir):
    """Compound &&/|| predicates (filter.ts fallback, parsed natively here)."""
    tf = TurboFrame(_t(spark, sf_dir, "customer"))
    expr = "(c_acctbal >= 1000 && c_mktsegment == BUILDING) || c_acctbal < 0"
    return tf.filter(expr).select("c_custkey", "c_acctbal", "c_mktsegment").df


def q_filter_string_ops(spark, sf_dir):
    """contains / startsWith / endsWith (filter.ts:90-111)."""
    tf = TurboFrame(_t(spark, sf_dir, "part"))
    return (
        tf.filter("p_type contains 'ECO' || p_name endsWith 'bolt' || p_name startsWith 'red'")
        .select("p_partkey", "p_name", "p_type")
        .df
    )


def q_filter_matches(spark, sf_dir):
    """`matches` regex op — documented in the reference README (README.md:213)
    but unimplemented there; realized as rlike per documented intent."""
    tf = TurboFrame(_t(spark, sf_dir, "part"))
    return tf.filter("p_name matches '^(red|blue) .*t$'").select("p_partkey", "p_name").df


def q_sort_topk(spark, sf_dir):
    """Type-aware sort + limit (dataframe.ts:124-145, head.ts:33-37)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


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


def q_join_left(spark, sf_dir):
    """Left outer join; unmatched right side -> NULLs."""
    tf = TurboFrame(_t(spark, sf_dir, "customer"))
    joined = tf.join(
        TurboFrame(_t(spark, sf_dir, "orders")),
        on={"left": "c_custkey", "right": "o_custkey"},
        how="left",
    )
    return joined.select("c_custkey", "c_name", "o_orderkey", "o_totalprice").df


def q_join_right(spark, sf_dir):
    """Right outer join (dataframe.ts:19 JoinType right)."""
    tf = TurboFrame(_t(spark, sf_dir, "orders"))
    joined = tf.join(
        TurboFrame(_t(spark, sf_dir, "customer")),
        on={"left": "o_custkey", "right": "c_custkey"},
        how="right",
    )
    return joined.select("o_orderkey", "c_custkey", "c_name").df


def q_join_full(spark, sf_dir):
    """Full outer join (dataframe.ts:19 JoinType full)."""
    tf = TurboFrame(_t(spark, sf_dir, "supplier"))
    joined = tf.join(
        TurboFrame(_t(spark, sf_dir, "nation")),
        on={"left": "s_nationkey", "right": "n_nationkey"},
        how="full",
    )
    return joined.select("s_suppkey", "s_name", "n_nationkey", "n_name").df


def q_join_cross(spark, sf_dir):
    """Real cross join — declared but degenerate in the reference
    (dataframe.ts:17 'cross' falls into inner); implemented per intent."""
    tf = TurboFrame(_t(spark, sf_dir, "region"))
    return tf.join(TurboFrame(_t(spark, sf_dir, "nation")), how="cross").select(
        "r_name", "n_name"
    ).df


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


def q_groupby_concat(spark, sf_dir):
    """concat aggregate: values joined ', ' in encounter order
    (dataframe.ts:342-343)."""
    nation = _t(spark, sf_dir, "nation")
    grouped = TurboFrame(nation).group_by("n_regionkey")
    return grouped.aggregate(
        {"nations": ("n_name", "concat"), "n_nations": ("n_name", "count")},
        order_col="n_nationkey",
    ).df


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
    from bun_csv_spark.operators.aggregates import exact_median_distributed

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


def q_count_rows(spark, sf_dir):
    """count CLI command (cli/commands/count.ts:17-42)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


def q_distinct_values(spark, sf_dir):
    """distinct — extension beyond the reference (SURVEY §2.7: none)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


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


def q_coercion_pipeline(spark, sf_dir):
    """Schema-type coercions: currency/accounting, percent, boolean,
    integer-with-thousands (row.ts:620-706). Inputs are strings built from
    c_custkey so the oracle can assert the expected parse results."""
    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey").cast("string")
    cur_text = F.when(
        F.col("c_custkey") % 2 == 0, F.concat(F.lit("$"), ck)
    ).otherwise(F.concat(F.lit("($"), ck, F.lit(")")))
    pct_text = F.concat((F.col("c_custkey") % 200).cast("string"), F.lit("%"))
    bool_text = (
        F.when(F.col("c_custkey") % 4 == 0, "yes")
        .when(F.col("c_custkey") % 4 == 1, "TRUE")
        .when(F.col("c_custkey") % 4 == 2, "n")
        .otherwise("0")
    )
    int_text = F.concat(
        F.lit("1,"), F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0")
    )
    return cust.select(
        "c_custkey",
        parse_currency(cur_text).alias("parsed_currency"),
        parse_percent(pct_text).alias("parsed_percent"),
        parse_boolean(bool_text).alias("parsed_bool"),
        parse_integer(int_text).alias("parsed_int"),
    )


def q_stats_columns(spark, sf_dir):
    """stats CLI command: per-column count/nulls/exact-distinct/min/max/mean
    + type inference (cli/commands/stats.ts:17-113)."""
    cust = _t(spark, sf_dir, "customer")
    st = column_stats(cust, ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"])
    return st.select(
        "column",
        "count",
        "null_count",
        "unique_count",
        F.round("min_num", 4).alias("min_num"),
        F.round("max_num", 4).alias("max_num"),
        F.round("mean_num", 4).alias("mean_num"),
        "inferred_type",
    )


def q_unparse_lines(spark, sf_dir):
    """unparse/serialize rows to delimited text (unparse.ts:58-137)."""
    nation = _t(spark, sf_dir, "nation")
    line = F.concat_ws(",", F.col("n_nationkey").cast("string"), F.col("n_name"))
    return nation.select(line.alias("line"))


# ---------------------------------------------------------------------------
# Window / event-time operators (extension; SURVEY §2.5 reference has none)
# ---------------------------------------------------------------------------


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


def q_events_tumbling(spark, sf_dir):
    """Tumbling event-time window agg. ts is epoch-nanos (see
    sources.events); the hour bucket is a modulo on longs — no timestamp
    codec in the hot path, no timezone dependence."""
    ev = read_events(spark, sf_dir)
    hour_s = ns_truncate("ts", 3600)
    # r18: group on the NUMERIC hour bucket and render the window_start
    # string AFTER the aggregate — the wall-clock formatting (date_add +
    # 3x lpad + concat) runs once per GROUP (hours x event_types) instead
    # of once per event row, and the exchange carries an 8-byte long
    # instead of a 19-char string key. Same result: the bucket -> string
    # map is injective, so the group set is identical.
    return (
        ev.groupBy(hour_s.alias("__hour_s"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            epoch_seconds_to_string(F.col("__hour_s")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_events_sessionize(spark, sf_dir):
    """Sessionization: >30min gap starts a session (lag + running sum)."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    new_s = F.when(gap > F.lit(30 * 60 * 1_000_000_000), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ns_to_string(F.min("ts")).alias("session_start"),
        ns_to_string(F.max("ts")).alias("session_end"),
    )


def q_session_window_native(spark, sf_dir):
    """Native session_window operator (gap-merged sessions). Spark closes
    a session when the next event is >= gap away (window end exclusive),
    so the oracle's lag-based rewrite uses >= too. Full microsecond
    precision feeds the gap check."""
    from bun_csv_spark.functions.timefmt import ns_to_ntz_micros

    ev = read_events(spark, sf_dir)
    ts = ns_to_ntz_micros("ts").alias("ts_ntz")
    return (
        ev.select("user_id", ts, "value")
        .groupBy(F.session_window("ts_ntz", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def q_skew_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation — result must equal the direct
    groupBy (the oracle IS the direct form)."""
    from bun_csv_spark.operators.skew import salted_aggregate

    li = _t(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li, ["l_returnflag"], sums=["l_quantity"], n_salt=16
    )
    return out.select(
        "l_returnflag", "n_rows", F.round("sum_l_quantity", 2).alias("sum_qty")
    )


def q_events_pivot(spark, sf_dir):
    """Pivot-style conditional aggregation per event type."""
    ev = read_events(spark, sf_dir)
    bucket = (F.col("user_id") % 10).alias("bucket")

    def n(t):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")

    return ev.groupBy(bucket).agg(
        n("click"), n("view"), n("purchase"), n("signup"), n("error"),
        F.count(F.lit(1)).alias("n_total"),
    )


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


def q_cube_agg(spark, sf_dir):
    """CUBE grouping sets (all 4 combinations of two dimensions)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def q_json_extract(spark, sf_dir):
    """JSON path extraction over the events props column."""
    ev = read_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("long").alias("k_num"),
    )


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


def q_rollup_agg(spark, sf_dir):
    """ROLLUP grouping sets (extension; no grouping sets in reference)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: dedup / text / similarity / multimodal
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: deterministic representative per distinct text."""
    return dedup_exact(_t(spark, sf_dir, "documents"), ["text"], "doc_id")


def q_dedup_fingerprint(spark, sf_dir):
    """Fingerprint dedup on normalized-text md5."""
    # r18: no ensure_parallelism — md5+normalize is cheap per row and the
    # groupBy(fp) pays its own exchange anyway; the extra keyless exchange
    # cost 3.2x the whole query at sf0.1 (A/B best-of-5: 0.36 s direct vs
    # 1.15 s through repartition(32), 0.78 s hash-keyed).
    docs = _t(spark, sf_dir, "documents")
    return dedup_fingerprint(docs, "text", "doc_id")


def q_text_quality(spark, sf_dir):
    """Quality scoring: length/tokens/punct/digit/stopword features."""
    # r18: keyed repartition — the regex feature battery is heavy enough
    # per row that spreading the single-row-group scan still wins, but the
    # hash partitioning on the near-unique doc_id skips the round-robin's
    # sortBeforeRepartition (A/B best-of-5: 0.77 s keyed vs 0.94 s round-
    # robin vs 1.00 s unpartitioned).
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_chars_calc"].alias("n_chars_calc"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["mean_token_len"], 4).alias("mean_token_len"),
        F.round(feats["punct_ratio"], 4).alias("punct_ratio"),
        F.round(feats["digit_ratio"], 4).alias("digit_ratio"),
        F.round(feats["stopword_ratio_en"], 4).alias("stopword_ratio_en"),
    )


def q_token_counts(spark, sf_dir):
    """Token counting: whitespace + BPE-ish word-piece proxy."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_pieces"),
    )


def q_lang_detect(spark, sf_dir):
    """Language ID by stopword vote (deterministic, no external model)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", detect_language("text").alias("lang_pred"))


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over normalized text."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


def _neardup_corpus(spark, sf_dir):
    """documents ∪ perturbed copies — guarantees real near-dup pairs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the end")).alias("text"),
    )
    return docs.unionAll(perturbed)


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (8 hashes, 5-char shingles, md5-based)."""
    return minhash_signatures(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n_hashes=8, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )


def q_neardup_pairs(spark, sf_dir):
    """LSH-banded near-duplicate candidate pairs over a corpus with
    planted near-dups (4 bands × 2 rows)."""
    return neardup_pairs_minhash(
        _neardup_corpus(spark, sf_dir), "doc_id", "text",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )


def q_neardup_editdist(spark, sf_dir):
    """Exact Levenshtein verification over the LSH candidate pairs —
    banding proposes, edit distance disposes (dedup.editdist_verify).
    Cost is per-candidate, never all-pairs."""
    from bun_csv_spark.operators.dedup import editdist_verify

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_minhash(
        corpus, "doc_id", "text", n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )
    return editdist_verify(corpus, pairs, "doc_id", "text")


def q_neardup_pairs_bucketed(spark, sf_dir):
    """Same candidate set as neardup_pairs, routed through the
    MATERIALIZED banding table bucketed by (band, bucket) — the
    Exchange-free recurring-dedup path (dedup.py:215). Proves the scale
    variant computes the identical result, not just a nicer plan; the
    oracle is neardup_pairs' oracle verbatim."""
    from bun_csv_spark.operators.dedup import neardup_pairs_minhash_bucketed

    return neardup_pairs_minhash_bucketed(
        _neardup_corpus(spark, sf_dir), "doc_id", "text",
        table="gate_neardup_bands",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )


def q_dedup_clusters(spark, sf_dir):
    """Dedup clusters: connected components of the LSH near-dup graph —
    every doc labeled with its component's canonical (min) id. Oracle:
    recursive reachability CTE in DuckDB."""
    from bun_csv_spark.operators.dedup import connected_components

    pairs = neardup_pairs_minhash(
        _neardup_corpus(spark, sf_dir), "doc_id", "text",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )
    return connected_components(pairs).select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )


def q_dedup_apply(spark, sf_dir):
    """END-TO-END corpus dedup: LSH candidate pairs -> EXACT word-3-gram
    Jaccard verification (>= 0.5) -> connected components -> anti-join,
    keeping only each cluster's canonical (min-id) member plus all
    untouched singletons — the complete "dedup this corpus" pipeline a
    training run actually executes. LSH candidates are allowed false
    positives and transitive chaining amplifies them (round-3 ADVICE), so
    the exact-verification stage between candidate generation and
    clustering is load-bearing, not optional."""
    from bun_csv_spark.operators.dedup import connected_components

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_minhash(
        corpus, "doc_id", "text",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )
    verified = ngram_jaccard_pairs(corpus, pairs, "doc_id", "text", n=3).filter(
        F.round("jaccard", 6) >= 0.5
    )
    labels = connected_components(verified)
    drop = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    return corpus.join(drop, "doc_id", "left_anti").select("doc_id")


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard over the LSH candidate pairs."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_minhash(
        corpus, "doc_id", "text", n_hashes=8, bands=4, shingle_k=5,
        # r19: the other verify gates already spread the CPU-bound
        # shingle+fold banding (r18 A/B: 3.78 s unspread vs 0.53 s);
        # this gate had been paying the single-task fold
        repartition=spark.sparkContext.defaultParallelism,
    )
    out = ngram_jaccard_pairs(corpus, pairs, "doc_id", "text", n=3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for the vec_id=0 query vector."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ann_brute_force(emb, list(qvec), k=10, round_digits=6)


def q_knn_join(spark, sf_dir):
    """Top-5 neighbors for each of the first 5 vectors (broadcast kNN)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = knn_join_brute(emb, queries, k=5, round_digits=6)
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rnk")
    )


def _cdc_changes(spark, sf_dir):
    """Deterministic CDC changelog derived from the customer table (so
    the oracle can rebuild the identical changelog from the same rows):
    keys %10==0 -> delete @v2; %10==1 -> two competing updates @v2 (stale
    marker) and @v3 (suffix '*v3' — must win); %10==2 -> insert of a new
    key (+1,000,000) @v2."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    dels = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", "c_name", "c_acctbal",
        F.lit(2).alias("version"), F.lit("D").alias("op"),
    )
    upd_stale = cust.filter(F.col("c_custkey") % 10 == 1).select(
        "c_custkey", F.lit("stale").alias("c_name"), "c_acctbal",
        F.lit(2).alias("version"), F.lit("U").alias("op"),
    )
    upd_new = cust.filter(F.col("c_custkey") % 10 == 1).select(
        "c_custkey", F.concat("c_name", F.lit("*v3")).alias("c_name"),
        "c_acctbal", F.lit(3).alias("version"), F.lit("U").alias("op"),
    )
    ins = cust.filter(F.col("c_custkey") % 10 == 2).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("new-"), "c_name").alias("c_name"), "c_acctbal",
        F.lit(2).alias("version"), F.lit("U").alias("op"),
    )
    return dels.unionByName(upd_stale).unionByName(upd_new).unionByName(ins)


def q_cdc_apply(spark, sf_dir):
    """CDC changelog merge (operators.maintenance.apply_changelog): the
    MERGE INTO shape — latest change per key wins, deletes drop, upserts
    replace/insert. Oracle rebuilds the same changelog and applies the
    same semantics via window + anti-join SQL."""
    from bun_csv_spark.operators.maintenance import apply_changelog

    snap = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    return apply_changelog(snap, _cdc_changes(spark, sf_dir), "c_custkey")


def q_bloom_semi(spark, sf_dir):
    """Bloom-filter semi-join pre-prune (operators.maintenance): orders
    filtered against rich customers' key set through a broadcastable
    md5-position bitmap — map-only on the probe side, DETERMINISTIC false
    positives the oracle replays bit-for-bit."""
    from bun_csv_spark.operators.maintenance import bloom_semi_join

    probe = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    build = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return bloom_semi_join(probe, build, "o_custkey")


def q_zorder_keys(spark, sf_dir):
    """Z-order clustering key (operators.maintenance.zorder_value):
    8-bit interleave of (o_custkey, o_totalprice) — the OPTIMIZE ZORDER
    BY key as a pure codegen expression; oracle restates the bit
    interleave arithmetically."""
    from bun_csv_spark.operators.maintenance import zorder_value

    z = zorder_value("o_custkey", "o_totalprice", 0, 150_000, 0, 600_000, bits=8)
    return _t(spark, sf_dir, "orders").select("o_orderkey", z.alias("zval"))


# DECOMPOSED on purpose (base char + combining mark, via escapes) so NFC
# actually composes and lengths change
_UNICODE_SUFFIXES = [
    " e\u0301clair",
    " u\u0308ber",
    " an\u0303o",
    " Ca\u0301fe\u0301",
]


def q_text_normalize(spark, sf_dir):
    """Unicode normalization pipeline step: append a per-doc DECOMPOSED
    combining-mark suffix (the docs corpus is pure ASCII), then NFC
    (composes — shorter) and accent-fold (NFD + drop Mn). Arrow-batched
    pandas UDFs (Spark has no normalization builtin); the oracle uses
    DuckDB's native nfc_normalize / strip_accents over the identical
    chr()-built suffixes — two independent Unicode implementations must
    agree byte-for-byte."""
    from bun_csv_spark.functions.text import nfc_normalize_udf, strip_accents_udf

    docs = _t(spark, sf_dir, "documents")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _UNICODE_SUFFIXES]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    raw = F.concat(F.col("text"), suffix)
    return docs.select(
        "doc_id",
        F.length(raw).cast("long").alias("raw_len"),
        nfc_normalize_udf(raw).alias("nfc"),
        F.length(nfc_normalize_udf(raw)).cast("long").alias("nfc_len"),
        strip_accents_udf(raw).alias("stripped"),
    )


def q_compression_ratio(spark, sf_dir):
    """zlib compression-ratio quality signal per doc (CCNet/RedPajama
    heuristic: templated text collapses, prose doesn't). Deterministic
    for a fixed zlib level, but NOT SQL-expressible — intentionally has
    no oracle_sql entry (rows-only gate); the separation property is
    pytest-asserted instead."""
    from bun_csv_spark.functions.text import compression_ratio_udf

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", compression_ratio_udf("text").alias("compress_ratio")
    )


def q_interval_overlap(spark, sf_dir):
    """Interval x interval overlap join (temporal.interval_overlap_join):
    per user, purchase attention windows [ts-30min, ts] overlapping view
    windows [ts-15min, ts]. Bucketed equi-join with arithmetic pair
    dedup — no theta-join; oracle is DuckDB's native range predicate."""
    from bun_csv_spark.operators.temporal import interval_overlap_join

    ev = read_events(spark, sf_dir)
    half_hour = 1800 * 1_000_000_000
    quarter = 900 * 1_000_000_000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id",
        (F.col("ts") - half_hour).alias("p_start"), F.col("ts").alias("p_end"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), "user_id",
        (F.col("ts") - quarter).alias("v_start"), F.col("ts").alias("v_end"),
    )
    out = interval_overlap_join(
        purchases, views, "user_id", "p_start", "p_end", "v_start", "v_end",
        bucket_width=half_hour,
    )
    return out.select("p_id", "v_id", "user_id", F.col("overlap").alias("overlap_ns"))


def q_incremental_agg(spark, sf_dir):
    """Incremental re-aggregation (operators.maintenance.agg_state):
    split orders into two batches, compute mergeable per-key states
    independently, MERGE, finalize — must equal a direct aggregate over
    everything. Decimal sums keep the state exact (associative), so the
    merged result is bit-identical to the oracle's one-shot aggregate."""
    from bun_csv_spark.operators.maintenance import (
        agg_state,
        finalize_agg_state,
        merge_agg_states,
    )

    orders = _t(spark, sf_dir, "orders").withColumn(
        "v", F.col("o_totalprice").cast("decimal(18,2)")
    )
    s1 = agg_state(orders.filter(F.col("o_orderkey") % 2 == 0), ["o_custkey"], "v")
    s2 = agg_state(orders.filter(F.col("o_orderkey") % 2 == 1), ["o_custkey"], "v")
    out = finalize_agg_state(merge_agg_states(s1, s2, ["o_custkey"]))
    return out.select(
        "o_custkey", "n",
        F.col("min").cast("double").alias("min_v"),
        F.col("max").cast("double").alias("max_v"),
        "mean_e4", "stddev_pop_e4",
    )


def q_skew_profile(spark, sf_dir):
    """Join-key skew diagnosis (operators.maintenance.skew_profile): the
    heaviest events keys with share + skew factor vs uniform — the
    pre-flight check that decides salting / AQE skew-join thresholds."""
    from bun_csv_spark.operators.maintenance import skew_profile

    ev = read_events(spark, sf_dir)
    return skew_profile(ev, "event_type", top=10)


def q_multimodal_pixels(spark, sf_dir):
    """REAL pixel decode: attach a genuine uncompressed 24-bit BMP per
    doc (deterministic id-derived pixels), decode every pixel with
    stdlib struct + numpy (multimodal.binary.decode_bmp_pixels), reduce
    to exact integer channel sums. The oracle restates the sums from
    doc_id arithmetic alone — a true end-to-end check that the bytes
    written are the bytes decoded."""
    from bun_csv_spark.multimodal.binary import attach_bmp_payload, extract_pixel_stats

    docs = _t(spark, sf_dir, "documents")
    return extract_pixel_stats(attach_bmp_payload(docs), "doc_id", "payload")


def q_multimodal_jpeg_pixels(spark, sf_dir):
    """REAL JPEG decode end to end: a genuine baseline-sequential JFIF
    per doc (flat quant table, Annex K Huffman tables, real forward DCT
    at encode), decoded through canonical Huffman + dequant + float IDCT
    (multimodal.binary.decode_jpeg_pixels — no imaging library), reduced
    to exact integer channel sums. Pixels are CONSTANT per 8x8 block, so
    the DCT round trip is LOSSLESS by construction and the oracle
    restates every decoded pixel from doc_id arithmetic — closing the
    'JPEG is the external-codec boundary' gap documented since r3."""
    from bun_csv_spark.multimodal.binary import (
        attach_jpeg_payload,
        decode_jpeg_pixels,
        extract_pixel_stats,
    )

    # r18: keyed spread — the Python JPEG decode ran one-core on the
    # single-file scan (A/B at sf0.1: 7.9 -> 1.6 s); no-op at scale
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), key="doc_id"
    ).select("doc_id")
    return extract_pixel_stats(
        attach_jpeg_payload(docs), "doc_id", "payload", decoder=decode_jpeg_pixels
    )


def q_multimodal_jpeg_420(spark, sf_dir):
    """4:2:0-subsampled JPEG decode end to end — the layout virtually
    every real-world camera/web JPEG uses (16x16 MCUs: 4 Y + 1 Cb +
    1 Cr blocks, chroma at quarter resolution). The fixture is
    gray-valued and constant per 16x16 macroblock, so chroma
    box-averaging and replication-upsample are both exact and the
    flat-quant DCT round trip is LOSSLESS — every decoded pixel
    restates from doc_id arithmetic in the oracle. Exercises the
    sampling-factor parse, the 6-block MCU interleave, per-component
    plane geometry, and the upsample path that the 4:4:4 gate
    (multimodal_jpeg_pixels) never touches."""
    from bun_csv_spark.multimodal.binary import (
        attach_jpeg420_payload,
        decode_jpeg_pixels,
        extract_pixel_stats,
    )

    # r18: keyed spread (one-core Python decode otherwise; same A/B
    # family as multimodal_jpeg_pixels); no-op at scale
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), key="doc_id"
    ).select("doc_id")
    return extract_pixel_stats(
        attach_jpeg420_payload(docs), "doc_id", "payload", decoder=decode_jpeg_pixels
    )


def q_incremental_dedup(spark, sf_dir):
    """Day-over-day exact dedup against a persisted fingerprint store
    (r10, operators/dedup.py incremental_dedup_update): the documents
    table replayed as three pseudo-days (doc_id % 3), each day
    fingerprinted, min-id-deduped within the day, anti-joined against
    the store of fingerprints from EARLIER days, and committed as an
    idempotent day partition. The returned union must equal the
    global first-day-wins dedup the oracle computes over the undivided
    table — proving the store carries exactly the right history so the
    corpus itself is never rescanned (the dedup analogue of
    incremental_day_pipeline's merge==single-pass law)."""
    from bun_csv_spark.operators.dedup import incremental_dedup_update

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = _scratch_dir("fp_store", sf_dir)
    outs = []
    for d in range(3):
        new = incremental_dedup_update(
            spark, docs.filter(F.col("doc_id") % 3 == d), store, d
        )
        outs.append(new.withColumn("day", F.lit(d).cast("long")))
    out = outs[0].unionByName(outs[1]).unionByName(outs[2])
    return out.select("day", "doc_id", "fp")


def q_incremental_neardup(spark, sf_dir):
    """Day-over-day NEAR-dup against a persisted MinHash band store
    (r11, operators/dedup.py incremental_neardup_update — the LSH twin
    of incremental_dedup): the neardup corpus replayed as three
    pseudo-days (doc_id % 3), each day banded with neardup_pairs'
    exact constants (8 hashes × 4 bands, 5-shingles), joined against
    the band rows of strictly earlier committed days, and today's
    bands committed as an idempotent day partition. The union of the
    per-day pair emissions must equal the global LSH pair set under
    the prefix-cap rule (a bucket stops emitting once its CUMULATIVE
    size passes 64; earlier emissions stand) — proving the store
    carries exactly the banding history, so the corpus is never
    re-shingled. Each global pair surfaces exactly once, on
    max(day_a, day_b), which the day column pins."""
    from bun_csv_spark.operators.dedup import incremental_neardup_fold_days

    corpus = _neardup_corpus(spark, sf_dir)
    store = _scratch_dir("band_store", sf_dir)
    # r19 (guide §2.6): the three days' band+commit jobs are independent
    # (each day's pair derivation scopes history via before_day at
    # listing time, not via commit order), so they run overlapped from a
    # thread pool instead of serializing three write jobs
    days = incremental_neardup_fold_days(
        spark, [(d, corpus.filter(F.col("doc_id") % 3 == d)) for d in range(3)],
        store, n_hashes=8, bands=4, shingle_k=5, max_bucket=64,
        repartition=spark.sparkContext.defaultParallelism,
    )
    outs = [
        pairs.withColumn("day", F.lit(d).cast("long"))
        for d, pairs in enumerate(days)
    ]
    out = outs[0].unionByName(outs[1]).unionByName(outs[2])
    return out.select("day", "id_a", "id_b")


def q_incremental_neardup_narrow(spark, sf_dir):
    """The incremental_neardup fold on the NARROW band-store layout
    (r16, operators/dedup.py bucket_encoding="xxhash64"): identical
    three-pseudo-day replay, but the store commits 8-byte long buckets
    instead of 32-char md5 hex — ~3x fewer scan bytes per store row on
    the store-scan-dominated year-deep fold (SCALE.md r16 A/B at
    100x-day depth). The emitted PAIRS are encoding-independent (the
    bucket is an identity digest of the band's minhash vector: two
    docs share a bucket iff their band columns are equal, under either
    digest), so this gate reuses the md5 twin's DuckDB oracle VERBATIM
    — the driver hash-match IS the equality law, oracle-verified
    (also pinned small in tests/test_round16_ops.py)."""
    from bun_csv_spark.operators.dedup import incremental_neardup_fold_days

    corpus = _neardup_corpus(spark, sf_dir)
    store = _scratch_dir("band_store_xx", sf_dir)
    # r19: overlapped commit jobs, same rationale as q_incremental_neardup
    days = incremental_neardup_fold_days(
        spark, [(d, corpus.filter(F.col("doc_id") % 3 == d)) for d in range(3)],
        store, n_hashes=8, bands=4, shingle_k=5, max_bucket=64,
        repartition=spark.sparkContext.defaultParallelism,
        bucket_encoding="xxhash64",
    )
    outs = [
        pairs.withColumn("day", F.lit(d).cast("long"))
        for d, pairs in enumerate(days)
    ]
    out = outs[0].unionByName(outs[1]).unionByName(outs[2])
    return out.select("day", "id_a", "id_b")


def q_multimodal_video(spark, sf_dir):
    """REAL video decode end-to-end (r11): each doc carries an MJPEG-
    in-AVI file (RIFF container — avih/strh/strf headers, movi '00dc'
    chunks, idx1 index; multimodal/binary.py make_avi_mjpeg_payload) of
    2 + id%3 frames at 25 fps, every frame a complete baseline 4:2:0
    JPEG of the per-frame macroblock fixture. sample_video_frames walks
    the container, decodes the frame under each 50 ms sampling instant
    through the from-scratch JPEG codec, and emits exact integer
    channel sums per sampled frame — the oracle restates every pixel
    of every sampled frame from (doc_id, frame_idx) arithmetic, the
    macroblock-oracle pattern of the JPEG gates extended over the time
    axis (sampling stride, ts -> frame-index mapping, per-doc-varying
    clip length all checked)."""
    from bun_csv_spark.multimodal.binary import (
        attach_avi_mjpeg_payload,
        sample_video_frames,
    )

    # r18: keyed spread — the MJPEG-in-AVI walk + per-frame JPEG decode
    # is the heaviest Python map in the registry and ran one-core on the
    # single-file scan (A/B at sf0.1: 47.1 -> 4.5 s); no-op at scale
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), key="doc_id"
    ).select("doc_id")
    return sample_video_frames(
        attach_avi_mjpeg_payload(docs), "doc_id", "payload",
        every_ms=50, max_frames=8,
    )


def q_multimodal_jpeg_progressive(spark, sf_dir):
    """Progressive (SOF2) JPEG decode end to end (r10) — the last
    common JPEG layout the codec rejected. Each doc's payload is the
    4:2:0 macroblock-constant fixture of multimodal_jpeg_420 encoded
    through a REAL T.81 Annex G scan script: DC first (Al=1) -> DC
    refinement (raw bits) -> per-component spectral-selection AC bands
    (component 0 split 1-5/6-63) at Al=1 -> AC refinement scans (Ah=1)
    with multi-block EOB runs and buffered correction bits. The
    coefficients are transmitted losslessly, so the decoded pixels are
    BIT-IDENTICAL to the baseline 4:2:0 encoding and the oracle
    restates every pixel from doc_id arithmetic — same ground truth,
    different wire format, exercising the multi-scan coefficient
    accumulator, successive approximation, and EOB-run machinery that
    sequential scans never touch."""
    from bun_csv_spark.multimodal.binary import (
        attach_jpeg_progressive_payload,
        decode_jpeg_pixels,
        extract_pixel_stats,
    )

    # r18: keyed spread (A/B at sf0.1: 19.2 -> 2.0 s); no-op at scale
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), key="doc_id"
    ).select("doc_id")
    return extract_pixel_stats(
        attach_jpeg_progressive_payload(docs),
        "doc_id",
        "payload",
        decoder=decode_jpeg_pixels,
    )


def q_multimodal_png(spark, sf_dir):
    """REAL PNG decode end-to-end: attach a complete zlib-compressed PNG
    per doc (attach_png_rgb_payload — same id-derived channel formulas
    as the BMP gate), decode through inflate + unfilter
    (decode_png_pixels via decode_image dispatch), reduce to exact
    integer channel sums. Same oracle arithmetic as multimodal_pixels —
    two containers, two decode paths, one ground truth."""
    from bun_csv_spark.multimodal.binary import (
        attach_png_rgb_payload,
        decode_image,
        extract_pixel_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return extract_pixel_stats(
        attach_png_rgb_payload(docs), "doc_id", "payload", decoder=decode_image
    )


def q_multimodal_gif(spark, sf_dir):
    """REAL GIF decode end-to-end: attach a genuine LZW-coded GIF per doc
    (attach_gif_payload — id-derived palette indices through a real
    variable-width LZW bitstream), decode with the pure-Python LZW +
    palette mapping, reduce to exact integer channel sums. Oracle
    restates sums from the index/palette arithmetic: index v = (id + x*7
    + y*13) % 256, channels (v, 3v % 256, 7v % 256)."""
    from bun_csv_spark.multimodal.binary import (
        attach_gif_payload,
        decode_image,
        extract_pixel_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return extract_pixel_stats(
        attach_gif_payload(docs), "doc_id", "payload", decoder=decode_image,
        channel_cols=("sum_r", "sum_g", "sum_b"),
    )


def q_multimodal_samples(spark, sf_dir):
    """REAL PCM sample decode: attach a genuine 8-bit PCM WAV per doc
    (deterministic id-derived samples), decode every frame with stdlib
    wave + numpy, reduce to exact integer stats (sum, peak)."""
    from bun_csv_spark.multimodal.binary import (
        attach_pcm_wav_payload,
        extract_audio_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return extract_audio_stats(attach_pcm_wav_payload(docs), "doc_id", "payload")


def q_knn_join_bucketed(spark, sf_dir):
    """Scale-safe kNN join (similarity.knn_join_bucketed): LSH buckets +
    Hamming<=1 multi-probe + equi-join — no cartesian anywhere in the
    plan. Oracle replays the identical md5-derived plane bucketing in
    DuckDB, so this gate checks the bucketed semantics bit-for-bit;
    recall vs the brute join is asserted separately in tests."""
    from bun_csv_spark.operators.similarity import knn_join_bucketed

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = knn_join_bucketed(emb, queries, k=5, dim=64, n_planes=8, seed=42)
    return out.select(
        "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rnk")
    )


def q_multimodal_features(spark, sf_dir):
    """Binary-column plumbing: opaque payload -> Arrow-batched feature
    extraction via mapInPandas (decode stubbed deterministically)."""
    docs = attach_binary_payload(_t(spark, sf_dir, "documents"), "text", "payload")
    return extract_binary_features(docs, "doc_id", "payload")


# ---------------------------------------------------------------------------
# Window functions, analytics, scalar functions (extension surface)
# ---------------------------------------------------------------------------


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


def q_tfidf(spark, sf_dir):
    """TF-IDF scoring: term frequency within doc × inverse document
    frequency across the corpus — the canonical text-representation
    pipeline, shaped for 100 TB: document length is a window sum over the
    per-(doc,token) counts (no corpus-sized join at all), and the
    vocabulary join is left to AQE (it broadcasts only if genuinely
    small). n_docs is the one driver scalar — a count-star parquet
    metadata read."""
    from bun_csv_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    w_doc = Window.partitionBy("doc_id")
    tf = tf.withColumn("n_tok", F.sum("tf").over(w_doc))
    df_counts = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_counts, "token").select(
        "doc_id",
        "token",
        F.round(
            (F.col("tf") / F.col("n_tok"))
            * F.log(F.lit(float(n_docs)) / F.col("df")),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


def q_percentiles(spark, sf_dir):
    """Exact continuous percentiles of order totals."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
    )


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


def q_events_sliding(spark, sf_dir):
    """Sliding windows (1h window, 30m slide) via explicit window-start
    explode on epoch-nanos longs — each event lands in 2 windows."""
    ev = read_events(spark, sf_dir)
    half = 1800
    bucket30 = ns_truncate("ts", half)  # the 30m bucket the event is in
    starts = F.array(bucket30 - half, bucket30)  # the 2 windows covering it
    # r18: group on the NUMERIC window start and render the string after
    # the aggregate (same fix as events_tumbling — injective bucket->string
    # map, identical groups): the wall-clock formatting runs once per group
    # instead of once per exploded row (2x events), and the exchange
    # carries an 8-byte long key.
    return (
        ev.select(F.explode(starts).alias("win_start_s"), "event_type")
        .groupBy("win_start_s", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            epoch_seconds_to_string(F.col("win_start_s")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def q_streaming_join(spark, sf_dir):
    """REAL stream-stream inner join: purchases and clicks are two
    filtered streams off the same replayed source, joined per user with a
    1-hour lookback range over watermarked event time (the range is what
    bounds the join state — without it both sides buffer forever).
    Append mode, availableNow; oracle = the identical batch join at
    microsecond precision (epoch_us)."""
    import os as _os

    from bun_csv_spark.functions.timefmt import ns_to_ntz_micros
    from bun_csv_spark.streaming.windows import (
        run_stream_to_table,
        stream_stream_join,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")

    def transform(stream):
        src = stream.withColumn("ts_m", ns_to_ntz_micros("ts")).drop("ts")
        p = src.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.col("ts_m").alias("ts")
        )
        c = src.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_event"), "user_id",
            F.col("ts_m").alias("ts"),
        )
        joined = stream_stream_join(p, c, "user_id", "ts", "1 hour", "2 hours")
        return joined.select(
            F.col("l.event_id").alias("event_id"),
            F.col("r.click_event").alias("click_id"),
            F.col("l.user_id").alias("user_id"),
            (F.unix_micros(F.col("l.ts")) - F.unix_micros(F.col("r.ts")))
            .cast("long")
            .alias("gap_us"),
        )

    return run_stream_to_table(spark, path, transform, output_mode="append", normalize_ts=True)


def q_user_sequences(spark, sf_dir):
    """Behavioral training sequences: per-user time-ordered event strings
    capped at the most recent 64 — the events→training-data bridge. One
    shuffle on the user key."""
    from bun_csv_spark.operators.packing import user_event_sequences

    ev = read_events(spark, sf_dir)
    # micros-truncate the nanos (engines that read the parquet at µs — the
    # oracle included — drop the sub-micro digits; serialize what both see)
    ev = ev.withColumn("ts", F.col("ts") - F.col("ts") % 1000)
    return user_event_sequences(ev, "user_id", "ts", "event_type", max_events=64)


def q_streaming_enrich(spark, sf_dir):
    """REAL stream-static enrichment: the replayed event stream joins the
    STATIC customer dimension per micro-batch (stateless — no watermark),
    then aggregates spend per market segment. Oracle = the same batch
    join+agg."""
    import os as _os

    from bun_csv_spark.streaming.windows import (
        run_stream_to_table,
        stream_static_enrich,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    def transform(stream):
        enriched = stream_static_enrich(
            stream.filter(F.col("event_type") == "purchase"), cust, "user_id"
        )
        return enriched.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )

    return run_stream_to_table(spark, path, transform, output_mode="complete", normalize_ts=True)


def q_streaming_tumbling(spark, sf_dir):
    """REAL Structured Streaming: replay events.parquet through readStream,
    hourly tumbling counts, drained synchronously to a memory sink. The
    oracle is the same SQL as the batch query — streaming and batch must
    agree (complete mode, availableNow trigger)."""
    import os as _os

    from bun_csv_spark.functions.timefmt import ns_to_ntz

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")

    def transform(stream):
        ntz = ns_to_ntz("ts")
        return (
            stream.withColumn("ts_ntz", ntz)
            .withColumn("ts_ntz", F.col("ts_ntz").cast("timestamp"))
            .groupBy(F.window("ts_ntz", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    return run_stream_to_table(spark, path, transform, output_mode="complete", normalize_ts=True)


def q_streaming_session(spark, sf_dir):
    """Session windows on the REAL streaming engine (watermarked, update
    mode, availableNow) — must match the batch session_window oracle."""
    import os as _os

    from bun_csv_spark.functions.timefmt import ns_to_ntz_micros

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")

    def transform(stream):
        ts = ns_to_ntz_micros("ts").cast("timestamp").alias("ts_t")
        return (
            stream.select("user_id", ts, "value")
            .withWatermark("ts_t", "10 days")
            .groupBy(F.session_window("ts_t", "30 minutes"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "session_start"
                ),
                "user_id",
                "n_events",
                "sum_value",
            )
        )

    return run_stream_to_table(spark, path, transform, output_mode="complete", normalize_ts=True)


def q_edit_overlay(spark, sf_dir):
    """Copy-on-write replay (parser.ts:744-899) over the nation table:
    edit one cell, delete one row, insert two rows; the oracle states the
    expected final table."""
    nation = (
        _t(spark, sf_dir, "nation")
        .orderBy("n_nationkey")
        .select(
            F.col("n_nationkey").cast("string").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("string").alias("n_regionkey"),
        )
    )
    from bun_csv_spark.operators.frame import with_row_index

    indexed = with_row_index(nation)
    log = EditLog()
    log.set_cell(3, "n_name", "EDITED")
    log.delete_row(5)
    log.insert_row(0, ["900", "FIRST", "9"])
    log.insert_row(10, ["901", "MIDDLE", "9"])
    return log.apply(indexed)


def q_dynamic_typing_struct(spark, sf_dir):
    """Per-VALUE dynamicTyping (row.ts:442-458): mixed-type column tagged
    and parsed per row, flattened for comparison."""
    cust = _t(spark, sf_dir, "customer")
    raw = (
        F.when(F.col("c_custkey") % 4 == 0, F.col("c_custkey").cast("string"))
        .when(F.col("c_custkey") % 4 == 1, F.lit("true"))
        .when(F.col("c_custkey") % 4 == 2, F.lit(""))
        .otherwise(F.lit("hello"))
    )
    tagged = dynamic_type(raw)
    return cust.select(
        "c_custkey",
        tagged["type"].alias("vtype"),
        tagged["bool"].alias("vbool"),
        tagged["num"].alias("vnum"),
        tagged["str"].alias("vstr"),
    )


def q_embedding_norms(spark, sf_dir):
    """Per-label embedding statistics (vector ops in aggregation)."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(norm), 4).alias("avg_norm"),
        F.round(F.min(norm), 4).alias("min_norm"),
        F.round(F.max(norm), 4).alias("max_norm"),
    )


def q_csv_roundtrip(spark, sf_dir):
    """The CSV layer under the oracle gate: serialize nation through the
    writer expression pipeline, re-read with the exact-path reader, and
    aggregate; the oracle computes from the original parquet."""
    from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv
    from bun_csv_spark.sources.csv_writer import write_csv

    nation = _t(spark, sf_dir, "nation")
    out = _scratch_dir("csv_rt", sf_dir) + "/nation_csv"
    write_csv(nation.coalesce(1), out, quote_style="minimal")
    back = read_csv(
        spark, out, CSVOptions(dynamic_typing=True, with_row_index=True)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("n_nationkey"), 2).alias("key_sum"),
        F.min("n_name").alias("first_name"),
    )


def _nation_csv_fixture(
    spark, sf_dir, ragged: bool = False, comments: bool = False,
    empties: bool = False,
) -> str:
    """Serialize nation (25 rows, driver-side) to a CSV file with
    deterministically planted irregularities, for the reader option-matrix
    gates (reference test/unit/errors.test.ts:39-163,
    phase1-features.test.ts:58-501). Returns the file path.

    - ``comments``: a '# …' line before the header and before every row
      whose key is a multiple of 5.
    - ``ragged``: rows with key % 7 == 3 drop the last field
      (TooFewFields); otherwise rows with key % 5 == 2 gain an extra
      field ``x{key}`` (TooManyFields).
    - ``empties`` (r18): a truly-EMPTY line after every row whose key is
      a multiple of 4, and a whitespace-only line (spaces + a tab —
      skipped only by skipEmptyRows='greedy', parser.ts:70-71) after
      every row whose key is a multiple of 6."""
    import tempfile as _tf

    rows = _t(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    lines = []
    if comments:
        lines.append("# leading comment before the header")
    lines.append("n_nationkey,n_name,n_regionkey")
    for r in rows:
        k = r["n_nationkey"]
        if comments and k % 5 == 0:
            lines.append(f"# comment {k}")
        if ragged and k % 7 == 3:
            lines.append(f"{k},{r['n_name']}")
        elif ragged and k % 5 == 2:
            lines.append(f"{k},{r['n_name']},{r['n_regionkey']},x{k}")
        else:
            lines.append(f"{k},{r['n_name']},{r['n_regionkey']}")
        if empties and k % 4 == 0:
            lines.append("")
        if empties and k % 6 == 0:
            lines.append("  \t ")
    f = _tf.NamedTemporaryFile(
        "w", suffix=".csv", prefix="bcsv_opts_", delete=False, encoding="utf-8"
    )
    f.write("\n".join(lines) + "\n")
    f.close()
    return f.name


def q_csv_opts_comments(spark, sf_dir):
    """Option matrix: comment-line skipping on the native path, including
    a comment BEFORE the header (parser.ts:72-73; the header/schema probe
    must skip it)."""
    from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv

    path = _nation_csv_fixture(spark, sf_dir, comments=True)
    return read_csv(spark, path, CSVOptions(comments="#"))


def q_csv_opts_skipempty(spark, sf_dir):
    """Option matrix (r18, previously pytest-only): skipEmptyRows in
    GREEDY mode drops both truly-empty lines and whitespace-only lines
    (parser.ts:70-71); every real record must survive exactly once with
    its fields still aligned — which the value-hash proves against the
    unplanted nation table."""
    from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv

    path = _nation_csv_fixture(spark, sf_dir, empties=True)
    return read_csv(spark, path, CSVOptions(skip_empty_rows="greedy"))


def q_csv_opts_fromto(spark, sf_dir):
    """Option matrix: fromLine/toLine as 1-based file lines with the
    header as line 1 (parser.ts:1504-1513) — lines 5..20 of a headered
    file are data records 4..19."""
    from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv

    path = _nation_csv_fixture(spark, sf_dir)
    df = read_csv(spark, path, CSVOptions(from_line=5, to_line=20))
    return df.select("n_nationkey", "n_name", "n_regionkey")


def q_csv_opts_relax(spark, sf_dir):
    """Option matrix: relaxColumnCount — short rows pad NULL, overflow
    lands in __parsed_extra (row.ts:508-523), no error rows."""
    from bun_csv_spark.sources.csv_reader import (
        PARSED_EXTRA,
        CSVOptions,
        read_csv_with_errors,
    )

    path = _nation_csv_fixture(spark, sf_dir, ragged=True)
    df, errors = read_csv_with_errors(
        spark, path, CSVOptions(relax_column_count=True)
    )
    assert errors.count() == 0  # both error kinds relaxed away
    return df.select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.when(
            F.col(PARSED_EXTRA).isNotNull(), F.concat_ws(";", PARSED_EXTRA)
        ).alias("extra"),
    )


def q_csv_opts_errors(spark, sf_dir):
    """Option matrix: structured TooFewFields/TooManyFields error rows
    with 0-based data-row indices (errors.ts:6-53)."""
    from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv_with_errors

    path = _nation_csv_fixture(spark, sf_dir, ragged=True)
    _df, errors = read_csv_with_errors(
        spark, path, CSVOptions(with_row_index=True)
    )
    return errors.select(
        F.col("row").cast("long").alias("row"), "type", "code", "message"
    )


def q_stratified_sample(spark, sf_dir):
    """Training-data mixture control: deterministic hash-based stratified
    sampling per language (downsample dominant en, keep rare langs)."""
    from bun_csv_spark.operators.util import stratified_sample_hash

    docs = _t(spark, sf_dir, "documents")
    fractions = {"en": 0.25, "zh": 1.0, "es": 0.5, "de": 1.0, "fr": 0.75}
    return stratified_sample_hash(docs, "lang", fractions, "doc_id").select(
        "doc_id", "lang", "source"
    )


def q_streaming_watermark(spark, sf_dir):
    """Watermark late-data DROP on the real engine (the one streaming
    semantic the suite lacked): the events replay is staged as THREE
    deterministic micro-batches — even event_ids, then ids%4==1, then
    ids%4==3 (stage_phased_replay + maxFilesPerTrigger=1) — feeding an
    APPEND-mode hourly aggregation with a 1-hour watermark.

    Where every boundary comes from (probed empirically on this engine,
    see tests/test_streaming_multimodal.py::test_watermark_drop_*):
    the LATE-ROW FILTER in batch N uses the watermark computed through
    batch N-2 (one batch behind the reported/eviction watermark), drops
    whole windows (window.end <= wm), and the watermark itself is
    ms-floored max event time minus the delay. So batch 1 drops nothing
    (filter wm = epoch 0), batch 2 drops its rows whose hourly window
    closed before max(batch-0 ts) - 1h, and windows still open at
    max(all ts) - 1h are never emitted (the append-mode tail). The
    oracle replays exactly that trajectory in SQL."""
    from bun_csv_spark.functions.timefmt import ns_to_ntz_micros
    from bun_csv_spark.streaming.windows import (
        run_stream_to_table,
        stage_phased_replay,
    )

    ev = read_events(spark, sf_dir)
    src = _scratch_dir("wm_replay", sf_dir)
    stage_phased_replay(
        ev,
        [
            ("even", F.col("event_id") % 2 == 0),
            ("odd1", F.col("event_id") % 4 == 1),
            ("odd3", F.col("event_id") % 4 == 3),
        ],
        src,
    )

    def transform(stream):
        ts_t = ns_to_ntz_micros("ts").cast("timestamp")
        return (
            stream.withColumn("ts_t", ts_t)
            .withWatermark("ts_t", "1 hour")
            .groupBy(F.window("ts_t", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    return run_stream_to_table(
        spark, src, transform, output_mode="append",
        normalize_ts=True, max_files_per_trigger=1,
    )


def q_streaming_dedup(spark, sf_dir):
    """REAL streaming dedup: dropDuplicatesWithinWatermark over the events
    replay. The watermark delay (30 days) exceeds the dataset's time span,
    so no state expires mid-replay and the surviving set is exactly the
    distinct keys — which row survives is processing-order-dependent, so
    only the key columns are returned (that set IS deterministic)."""
    import os as _os

    from bun_csv_spark.functions.timefmt import ns_to_ntz_micros
    from bun_csv_spark.streaming.windows import run_stream_to_table, streaming_dedup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")

    def transform(stream):
        src = stream.select(
            "user_id",
            "event_type",
            ns_to_ntz_micros("ts").cast("timestamp").alias("ts_t"),
        )
        out = streaming_dedup(src, ["user_id", "event_type"], "ts_t", "30 days")
        return out.select("user_id", "event_type")

    return run_stream_to_table(spark, path, transform, output_mode="append", normalize_ts=True)


def q_text_chunks(spark, sf_dir):
    """Long-document chunking for fixed-context training: overlapping
    64-token windows (stride 56), built as array expressions and exploded
    once at the end."""
    from bun_csv_spark.functions.text import chunk_tokens

    docs = _t(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id", F.explode(chunk_tokens("text", max_tokens=64, overlap=8)).alias("c")
    )
    return ch.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (emails / IPv4 / phone numbers -> typed tokens) over
    text with deterministically planted PII — chained regexp_replace,
    engine-portable patterns."""
    from bun_csv_spark.functions.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 or +1 555 010 "),
            (F.col("doc_id") % 9000 + 1000).cast("string"),
        ),
    ).otherwise(F.col("text"))
    return docs.select("doc_id", redact_pii(planted).alias("clean"))


def q_seq_packing(spark, sf_dir):
    """Sequence packing: contiguous fill of 512-token packs within
    explicit shards (window arithmetic, one shuffle — the pre-loader step
    of a training pipeline)."""
    from bun_csv_spark.functions.text import token_count
    from bun_csv_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        (F.col("doc_id") % 16).cast("long").alias("shard"),
        token_count("text").cast("long").alias("n_tok"),
    )
    out = pack_sequences(
        counted, "n_tok", budget=512, order_col="doc_id", shard_col="shard"
    )
    return out.select("doc_id", "shard", "n_tok", "pack_id", "pack_pos")


def q_bm25(spark, sf_dir):
    """BM25 ranking (k1=1.2, b=0.75) — the retrieval-grade upgrade of
    TF-IDF, same 100 TB shape: doc length as a window sum, avgdl as a
    broadcast 1-row aggregate, vocabulary join AQE-decided."""
    from bun_csv_spark.functions.text import tokens

    k1, b = 1.2, 0.75
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
    totals = tf.agg((F.sum("tf") / F.lit(float(n_docs))).alias("avgdl"))
    dfc = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    # literal 2.2, not k1+1: the float sum 1.2+1 need not equal the SQL
    # literal 2.2 bit-for-bit, and the oracle must mirror exactly
    score = F.round(idf * (F.col("tf") * F.lit(2.2)) / denom, 6)
    scored = (
        tf.join(dfc, "token")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", "token", score.alias("bm25"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("bm25").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


def q_multimodal_audio(spark, sf_dir):
    """Audio metadata through a REAL RIFF/WAVE header: the fixture builds
    an actual 8-bit PCM WAV per doc (rate = AUDIO_RATES[doc_id % 4],
    frames = UTF-8 text bytes) and extract_audio_meta parses it with the
    stdlib wave reader — the oracle restates rate/frames from (doc_id,
    text) without touching bytes."""
    from bun_csv_spark.multimodal.binary import attach_wav_payload, extract_audio_meta

    docs = attach_wav_payload(_t(spark, sf_dir, "documents"), "doc_id", "text", "payload")
    return extract_audio_meta(docs, "doc_id", "payload")


def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling plumbing over REAL WAV containers: duration comes
    from the parsed header; the frame hash keys off the DECODED sample
    data (= the original text bytes), so the oracle replays it as
    md5(text) — one row per sampled frame (row-explosion inside
    mapInPandas, the shape a real video decoder uses)."""
    from bun_csv_spark.multimodal.binary import attach_wav_payload, sample_frames

    # every_ms=10: real WAV durations here are 1-70 ms (text-sized
    # payloads), so a 10 ms stride keeps the gate exercising genuine
    # multi-frame explosion (1-8 rows per doc)
    docs = attach_wav_payload(_t(spark, sf_dir, "documents"), "doc_id", "text", "payload")
    return sample_frames(docs, "doc_id", "payload", every_ms=10, max_frames=8)


def q_streaming_stateful(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState) on the
    REAL engine: per-user running count + value sum. The final state per
    user equals the batch aggregate; max_by picks each user's last
    emitted row, so the gate holds even if the replay splits into
    multiple micro-batches."""
    import os as _os

    from bun_csv_spark.streaming.windows import (
        run_stream_to_table,
        stateful_user_counts,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")

    def transform(stream):
        return stateful_user_counts(stream.select("user_id", "value"))

    out = run_stream_to_table(spark, path, transform, output_mode="update", normalize_ts=True)
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("sum_value", "n_events"), 2).alias("sum_value"),
    )


def q_asof_join(spark, sf_dir):
    """As-of join (beyond the reference, SURVEY §2.3 'no as-of joins'):
    each purchase is attributed to the user's nearest prior-or-equal
    click, via the union-and-carry pattern (one shuffle, no theta-join).
    Oracle: DuckDB's native ASOF LEFT JOIN."""
    from bun_csv_spark.functions.timefmt import ns_to_string
    from bun_csv_spark.operators.temporal import asof_join

    ev = read_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    out = asof_join(purchases, clicks, key="user_id", ts="ts",
                    right_cols=["click_ts", "click_id"])

    from bun_csv_spark.functions.timefmt import ns_div

    # truncate EACH ts to micros first (the nanos parquet carries
    # sub-micro digits; micros-level engines truncate per timestamp),
    # with exact integral division — double round-trips are off-by-one
    # at 1e18 magnitude
    gap = ns_div("ts", 1000) - ns_div("click_ts", 1000)
    return out.select(
        "event_id",
        "user_id",
        ns_to_string("ts").alias("ts_s"),
        "click_id",
        gap.alias("gap_us"),
    )


def q_range_join(spark, sf_dir):
    """Bounded range join (beyond the reference): clicks falling in the 30
    minutes before each purchase, via bucketed interval join (fan-out
    bounded by interval/bucket width — no theta-join)."""
    from bun_csv_spark.operators.temporal import range_join_buckets

    ev = read_events(spark, sf_dir)
    half_hour_ns = 1800 * 1_000_000_000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        (F.col("ts") - half_hour_ns).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    joined = range_join_buckets(
        clicks, purchases, key="user_id", point_ts="c_ts",
        start="w_start", end="w_end", bucket_width=half_hour_ns,
    )
    counts = joined.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_clicks"))
    return (
        purchases.select("event_id", "user_id")
        .join(counts, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        )
    )


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-LSH banded buckets (portable
    md5-derived planes) -> capped banded pairs -> exact cosine verify.
    The synthetic embeddings have no true near-dups (max pairwise cosine
    ~0.51), so the gate threshold is 0.35 — it pins the ALGORITHM, bucket
    bits and all, against the oracle."""
    from bun_csv_spark.operators.dedup import neardup_pairs_embedding

    emb = _t(spark, sf_dir, "embeddings")
    return neardup_pairs_embedding(
        emb, "vec_id", "embedding", dim=64, threshold=0.35,
        bands=4, n_planes=6, seed=7,
    )


def q_ivf_ann(spark, sf_dir):
    """IVF ANN: Voronoi cells around 16 centroids — seeded from the first
    16 corpus vectors, then ONE Lloyd refinement pass (round-6 verdict
    stretch: +0.075 avg recall@10 over 20 queries at the same nprobe, and
    tighter cell balance). Query probes the 2 nearest cells, brute-force
    within. Every step is pinned (rounded argmax, rounded means), so
    DuckDB replays the whole pipeline — refinement included — as the
    oracle."""
    from bun_csv_spark.operators.similarity import ann_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding").first()["embedding"]
    return ann_ivf_topk(
        emb, list(qvec), k=10, n_centroids=16, nprobe=2, refine_iters=1
    )


def q_top_tokens(spark, sf_dir):
    """Corpus-level vocabulary: top-50 tokens by frequency (explode+agg —
    the canonical scale pattern for token statistics)."""
    from bun_csv_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


def q_quality_filter(spark, sf_dir):
    """Quality-gate filter: the composite keep/drop decision a training
    pipeline applies (filters on UNROUNDED metrics; rounded for display)."""
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    scored = docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_token_len"].alias("mtl"),
        feats["stopword_ratio_en"].alias("swr"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= 20) & (F.col("swr") <= 0.5)
        & (F.col("mtl") >= 3.0) & (F.col("mtl") <= 12.0)
    )
    return kept.select(
        "doc_id",
        "n_tokens",
        F.round("mtl", 4).alias("mean_token_len"),
        F.round("swr", 4).alias("stopword_ratio_en"),
    )


def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroid (elementwise mean) — posexplode + agg.
    Emitted as flat (label, pos, m) rows: the driver's canonicalizer sorts
    the pandas frame, so array columns are unhashable — flat scalars keep
    the oracle gate exact while `label_centroids_array` (library form,
    operators/clustering.py) re-assembles the vector for callers."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    # + 0.0 normalizes IEEE negative zero: Spark's HALF_UP round gives
    # +0.0 where DuckDB's round keeps the sign (-0.000033 -> -0.0), and
    # -0.0 vs 0.0 derails any string-sorted row canonicalization (bitten
    # at sf0.1; both sides normalize so the contract is "no -0.0")
    return exploded.groupBy("label", F.col("pos").cast("long").alias("pos")).agg(
        (F.round(F.avg(F.col("x").cast("double")), 4) + F.lit(0.0)).alias("m")
    )


def q_schema_apply(spark, sf_dir):
    """Typed Schema<T> enforcement, permissive mode (types.ts:6-31,
    row.ts:386-411): integer parse failure -> NULL, currency default fills
    NULL, non-boolean text -> NULL."""
    from bun_csv_spark.functions.schema import Field, apply_schema

    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    staged = cust.select(
        "c_custkey",
        F.when(ck % 5 == 0, F.concat(F.lit("x"), ck.cast("string")))
        .otherwise(ck.cast("string"))
        .alias("sid"),
        F.when(ck % 3 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("$"), (ck * 2).cast("string"))
        ).alias("sbal"),
        F.when(ck % 2 == 0, "yes").otherwise("nope").alias("sok"),
    )
    schema = {
        "sid": Field("integer"),
        "sbal": Field("currency", default=0.0),
        "sok": Field("boolean"),
    }
    return apply_schema(staged, schema, mode="permissive")


def q_simhash(spark, sf_dir):
    """SimHash fingerprints — md5-derived 64-bit shingle hashes, so the
    DuckDB oracle replays the exact bit pattern (_simhash_sql)."""
    # r18: keyed spread — the shingle+fold battery is the heaviest pure
    # map in the registry and the single-file scan ran it on one core
    # (A/B best-of-3 noop-forced at sf0.1: 17.6 s -> 3.5 s spread);
    # no-op above 128 MB of input
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    return docs.select("doc_id", simhash64("text").alias("simhash"))


def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN: md5-derived integer hyperplanes as plan literals
    (same family as dedup_embedding) — full oracle via _ann_lsh_sql; recall
    vs brute force is additionally asserted in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ann_lsh_topk(emb, list(qvec), k=10, dim=64, n_planes=6)


def q_multimodal_resize(spark, sf_dir):
    """Image pipeline through a REAL PNG IHDR: the fixture builds an
    actual PNG header per doc (dims = 1 + doc_id*37%512 / 1 + doc_id*53%512),
    extract_image_meta parses it (pure-stdlib header decode), then
    aspect-preserving thumbnail geometry runs as JVM exprs."""
    from bun_csv_spark.multimodal.binary import (
        attach_png_payload,
        extract_image_meta,
        resize_dims,
    )

    docs = attach_png_payload(_t(spark, sf_dir, "documents"), "doc_id", "payload")
    meta = extract_image_meta(docs, "doc_id", "payload")
    new_w, new_h = resize_dims("width", "height", 256)
    return meta.select(
        "doc_id", "width", "height", new_w.alias("thumb_w"), new_h.alias("thumb_h")
    )


def q_repetition_filter(spark, sf_dir):
    """Gopher/MassiveText repetition heuristics per document: duplicate
    word / 2-gram / 3-gram fractions, top-2-gram share, and the combined
    keep flag. Pure Column expressions — zero shuffles, linear scan; the
    n-gram arrays are staged once (lambda exprs don't CSE)."""
    from bun_csv_spark.operators.corpus import repetition_table

    # r18: keyed spread — the n-gram repetition battery on a single-file
    # scan ran one-core (A/B at sf0.1: 6.9 -> 0.86 s); no-op at scale
    return repetition_table(
        ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    )


def q_decontamination(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    5-gram with the eval split (doc_id % 19 == 0 plays the benchmark
    suite). Eval grams broadcast (bounded by the benchmark, not the
    corpus); training side is one explode + semi-join + count."""
    from bun_csv_spark.operators.corpus import decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 19 == 0)
    train = docs.filter(F.col("doc_id") % 19 != 0)
    return decontaminate(train, eval_docs, n=5)


def q_decontamination_surgical(spark, sf_dir):
    """Surgical decontamination: cut the eval-overlapping 5-gram spans,
    keep the clean remainder (vs q_decontamination's doc-level flag).
    Same eval split (doc_id % 19)."""
    from bun_csv_spark.operators.corpus import decontaminate_surgical

    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 19 == 0)
    train = docs.filter(F.col("doc_id") % 19 != 0)
    return decontaminate_surgical(train, eval_docs, n=5)


def q_cross_corpus_dedup(spark, sf_dir):
    """Cross-corpus dedup: drop docs whose normalized fingerprint appears
    in the previous snapshot (doc_id % 4 == 0 plays the old crawl). LEFT
    ANTI join on md5 — one shuffle on a 32-byte key."""
    from bun_csv_spark.operators.corpus import dedup_against

    docs = _t(spark, sf_dir, "documents")
    snapshot = docs.filter(F.col("doc_id") % 4 == 0).select("text")
    return dedup_against(docs, snapshot).select("doc_id", "lang", "source")


def q_corpus_mixture(spark, sf_dir):
    """Per-source mixture statistics (doc/token shares, mean length) —
    the aggregation a mixture-weight decision reads. One shuffle."""
    from bun_csv_spark.operators.corpus import mixture_stats

    return mixture_stats(_t(spark, sf_dir, "documents"), by="source")


def q_oversample_epochs(spark, sf_dir):
    """Mixture control by deterministic integer oversampling: each source
    repeats 1-3 times (factor derived from the source id, no RNG), rows
    multiplied map-side via explode(sequence) — no shuffle."""
    from bun_csv_spark.operators.corpus import oversample_by_factor

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    factor = (
        F.regexp_extract("source", r"([0-9]+)", 1).cast("int") % 3 + 1
    )
    return oversample_by_factor(docs, factor)


def q_domain_cap(spark, sf_dir):
    """Per-source document cap (CC-pipeline 'max N docs per host'):
    deterministic first-15-by-doc_id per source — one shuffle on the
    group key."""
    from bun_csv_spark.operators.corpus import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, "source", "doc_id", 15)


def q_quality_percentile(spark, sf_dir):
    """Adaptive quality threshold: keep the top 25% of docs by token
    count — the exact corpus percentile travels as a 1-row broadcast,
    never a collect (approx_percentile swaps in at 100 TB)."""
    from bun_csv_spark.functions.text import tokens
    from bun_csv_spark.operators.corpus import quality_percentile_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    score = F.size(tokens(F.col("text"))).cast("double")
    kept = quality_percentile_filter(docs, score, keep_top_fraction=0.25)
    return kept.select("doc_id", F.col("__score").cast("long").alias("n_tokens"))


def q_length_histogram(spark, sf_dir):
    """Token-budget accounting: width-10 token-length histogram with doc
    and token shares (histogram-sized broadcast for the totals)."""
    from bun_csv_spark.operators.corpus import length_histogram

    return length_histogram(_t(spark, sf_dir, "documents"), "text", 10)


def q_embedding_quantize(spark, sf_dir):
    """Corpus min-max int8 quantization of the embedding column: bounds
    via ONE combinable 2·dim-scalar aggregate (no posexplode shuffle),
    then a map-only quantize against the broadcast bounds. Flat
    (vec_id, pos, q) output — oracle-hashable."""
    from bun_csv_spark.functions.vectors import quantize_int8

    return quantize_int8(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding", 64)


def q_char_entropy(spark, sf_dir):
    """Shannon char entropy per doc (low-entropy spam tell) — pure
    per-row fold, zero shuffles. The char array is STAGED behind a
    projection so the O(u·n) count fold scans a materialized array
    instead of re-deriving it per distinct char (lambda-CSE gap)."""
    from bun_csv_spark.functions.text import array_entropy, char_shingles

    # r18: keyed spread — the O(u*n) entropy fold on a single-file scan
    # ran one-core (A/B at sf0.1: 3.9 -> 0.46 s); no-op at scale
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    staged = docs.select(
        "doc_id", char_shingles(F.col("text"), 1).alias("__chars")
    )
    return staged.select(
        "doc_id", F.round(array_entropy(F.col("__chars")), 6).alias("entropy")
    )


def q_boilerplate_prefix(spark, sf_dir):
    """Template/boilerplate detection: groups of 2+ docs sharing an
    identical 64-char prefix. Corpus = documents + suffix-modified
    copies (same trick as the near-dup gates), so prefix collisions
    genuinely occur; one shuffle on the md5 key."""
    from bun_csv_spark.operators.corpus import boilerplate_prefix_groups

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the end")).alias("text"),
    )
    return boilerplate_prefix_groups(docs.unionAll(copies), "doc_id", "text", 64)


def q_ann_quantized(spark, sf_dir):
    """Quantized-scan ANN + exact re-rank (scalar-quantization FAISS
    pattern): int8 codes from the corpus min-max bounds (1-row broadcast),
    approximate cosine over dequantized codes picks 50 candidates, exact
    float cosine re-ranks to top-10. Query = vec_id 3's embedding."""
    from bun_csv_spark.operators.similarity import ann_quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding").first()["embedding"]
    return ann_quantized_topk(emb, list(qvec), k=10, dim=64, rerank=50)


def q_quality_score(spark, sf_dir):
    """Model-based quality scoring: sigmoid of a fixed linear model over
    the quality-feature set (the trained-classifier plumbing with
    documented weights) — pure map, zero shuffles."""
    from bun_csv_spark.operators.corpus import quality_score_linear

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score_linear("text"), 6).alias("quality_score")
    )


def q_token_budget(spark, sf_dir):
    """Token-budget subsample: docs hash into 32 buckets; each bucket
    keeps its hash-ordered greedy prefix within its share of the 15k
    budget. No global ordering window anywhere in the plan (the round-3
    scale fix) — the only exchange is the bucket hash."""
    from bun_csv_spark.operators.corpus import token_budget_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = token_budget_sample(docs, "text", "doc_id", budget=15_000)
    return out.select("doc_id", F.col("__n_tok").alias("n_tokens"))


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (md5 uniform vs cumulative
    weights) + per-split counts — map-only, rerun- and engine-stable
    (unlike randomSplit)."""
    from bun_csv_spark.operators.util import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


def q_jsonl_roundtrip(spark, sf_dir):
    """Full convert cycle: documents -> distributed JSONL sink ->
    read_jsonl with an explicit schema (no sampling pass) -> values
    intact. The oracle is the source table itself — a lossy step
    anywhere in the cycle breaks the hash."""
    from bun_csv_spark.sources.csv_writer import convert, read_jsonl

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out = _scratch_dir("jsonl_rt", sf_dir) + "/docs"
    convert(docs, "jsonl", out)
    return read_jsonl(spark, out, schema=docs.schema).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def q_temperature_resample(spark, sf_dir):
    """mT5-style α-temperature mixture resampling (α=0.5, target 50%):
    per-source keep rates from one small histogram aggregate, md5-uniform
    keep decisions — the corpus never shuffles."""
    from bun_csv_spark.operators.corpus import temperature_resample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = temperature_resample(docs, "source", "doc_id", alpha=0.5, target_frac=0.5)
    return out.select("doc_id", "source")


def q_substring_dedup(spark, sf_dir):
    """Exact shared-substring dedup (Lee et al. suffix-array
    approximation): strided 50-char anchor windows, md5 equi-join with the
    ubiquity cap. Corpus = documents + suffix-modified copies so verbatim
    long spans genuinely exist across distinct ids."""
    from bun_csv_spark.operators.dedup import shared_substring_pairs

    # r18: keyed spread of the anchor-window build (3.1 -> 1.3 s at sf0.1)
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), key="doc_id"
    ).select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the end")).alias("text"),
    )
    return shared_substring_pairs(
        docs.unionAll(copies), "doc_id", "text", window=50, stride=10
    )


def q_kmeans_embeddings(spark, sf_dir):
    """Deterministic k-means (k=8, 2 Lloyd iterations) over the embedding
    corpus — semantic clustering for curation. Every arbitrary choice is
    pinned (smallest-id init, 6-dp rounding, id tiebreaks) so the DuckDB
    oracle replays the identical trajectory."""
    from bun_csv_spark.operators.clustering import kmeans

    return kmeans(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


def q_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-user sketch per event type, k=64.
    Unlike HLL (whose register layouts differ per engine), the md5-KMV
    estimate is bit-reproducible — the sketch itself is oracle-checked,
    not just the exact fallback (functions/sketches.py)."""
    from bun_csv_spark.functions.sketches import kmv_distinct

    return kmv_distinct(read_events(spark, sf_dir), ["event_type"], "user_id", k=64)


def q_rolling_range(spark, sf_dir):
    """Trailing 30-minute event-TIME window (RANGE on epoch nanos): per
    user, mean + count of value over the last half hour at each event."""
    from bun_csv_spark.operators.timeseries import rolling_range_stats

    return rolling_range_stats(read_events(spark, sf_dir))


def q_decay_weighted(spark, sf_dir):
    """Per-user exponential time-decay engagement: sum(value * 0.5^(age/
    1 day)) with age from the corpus max timestamp (1-row broadcast)."""
    from bun_csv_spark.operators.timeseries import decay_weighted_sum

    return decay_weighted_sum(read_events(spark, sf_dir))


def q_anomaly_zscore(spark, sf_dir):
    """Anomaly flags: z-score of each event's value vs the TRAILING 20
    events of the same user (current row excluded)."""
    from bun_csv_spark.operators.timeseries import trailing_zscore

    return trailing_zscore(read_events(spark, sf_dir))


def q_funnel(spark, sf_dir):
    """Ordered conversion funnel view -> click -> purchase: stage N
    counts only strictly after the first completion of stage N-1. Run
    over a deterministic 40% event subset so the stages discriminate
    (the full stream converts everyone). Output: users per final stage."""
    from bun_csv_spark.operators.timeseries import funnel_stages

    ev = read_events(spark, sf_dir).filter((F.col("event_id") % 5) < 2)
    out = funnel_stages(ev)
    return out.groupBy("funnel_stage").agg(F.count(F.lit(1)).alias("n_users"))


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via 16-bit pigeonhole banding + exact
    Hamming verification (bit_count of XOR <= 6) over the planted
    near-dup corpus."""
    from bun_csv_spark.operators.dedup import simhash_pairs

    # r18: keyed spread of the corpus before the simhash64 map (same
    # rationale as q_simhash: 17.6 -> 3.5 s for the fingerprint battery)
    return simhash_pairs(
        ensure_parallelism(_neardup_corpus(spark, sf_dir), key="doc_id"),
        "doc_id", "text", shingle_k=4, max_hamming=6
    )


def q_ngram_containment(spark, sf_dir):
    """Asymmetric n-gram containment (|A∩B|/|A| and /|B|) over the LSH
    candidate pairs — the sub-document-duplication metric symmetric
    Jaccard misses."""
    from bun_csv_spark.operators.dedup import ngram_containment_pairs

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_minhash(
        corpus, "doc_id", "text", n_hashes=8, bands=4, shingle_k=5,
        # r19: spread the CPU-bound banding like every other verify gate
        # (r18 A/B: 3.78 s unspread vs 0.53 s single-task fold)
        repartition=spark.sparkContext.defaultParallelism,
    )
    return ngram_containment_pairs(corpus, pairs, "doc_id", "text", n=3)


def q_quantile_normalize(spark, sf_dir):
    """Within-source quantile normalization (percent_rank) of document
    length — cross-source score comparability."""
    from bun_csv_spark.operators.corpus import quantile_normalize

    return quantile_normalize(_t(spark, sf_dir, "documents"))


def q_balanced_sample(spark, sf_dir):
    """Equal-allocation stratified sample: the 50 smallest-md5 docs per
    language — deterministic counter-skew sampling."""
    from bun_csv_spark.operators.corpus import balanced_sample

    out = balanced_sample(_t(spark, sf_dir, "documents"), per_group=50)
    return out.select("doc_id", "lang")


def q_curriculum_shards(spark, sf_dir):
    """Difficulty-decile shard assignment via a bounds-broadcast (exact
    percentiles, 1-row agg) — ntile semantics without ntile's global
    single-partition window."""
    from bun_csv_spark.operators.corpus import curriculum_shards

    return curriculum_shards(_t(spark, sf_dir, "documents"))


def q_corpus_diff(spark, sf_dir):
    """Snapshot diff old vs new corpus version (drop doc_id%17, edit
    %13, add %23 under shifted ids): (id, added|removed|changed) via one
    full-outer join on md5 digests."""
    from bun_csv_spark.operators.versioning import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 17 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat("text", F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 23 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return snapshot_diff(docs, new.unionByName(added), "doc_id", ("text",))


def q_temporal_split(spark, sf_dir):
    """Leakage-free per-user temporal split: each user's last 20% of
    events (by event time) held out as test."""
    from bun_csv_spark.operators.timeseries import temporal_holdout_split

    return temporal_holdout_split(read_events(spark, sf_dir))


def q_robust_scale(spark, sf_dir):
    """Median/IQR scaling of document length within each source — the
    grouped-percentile bounds join back as a dimension broadcast."""
    from bun_csv_spark.operators.corpus import robust_scale

    return robust_scale(_t(spark, sf_dir, "documents"))


def q_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: labeled lang x detected lang doc
    counts — the data-quality report for the lang-ID heuristic."""
    from bun_csv_spark.functions.text import detect_language

    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(
        "lang", detect_language(F.col("text")).alias("lang_pred")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


def q_inverted_index(spark, sf_dir):
    """Bounded inverted index: postings for the 100 highest-df terms
    (deterministic tie-break), df attached."""
    from bun_csv_spark.functions.text import build_inverted_index

    return build_inverted_index(_t(spark, sf_dir, "documents"))


def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct counts (md5 registers, exact
    integer register sums — engine-portable, unlike approx_count_distinct):
    per-event-type distinct users at p=8 (exercises the linear-counting
    branch) unioned with the global distinct event-id estimate at p=12
    (the raw-estimator branch)."""
    from bun_csv_spark.functions.sketches import hll_distinct

    ev = read_events(spark, sf_dir)
    by_type = hll_distinct(ev, ["event_type"], "user_id", p=8).select(
        F.col("event_type").alias("scope"), "est_distinct"
    )
    glob = hll_distinct(
        ev.withColumn("__g", F.lit("all_event_ids")), ["__g"], "event_id", p=12
    ).select(F.col("__g").alias("scope"), "est_distinct")
    return by_type.unionByName(glob)


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sample without replacement: 25 docs
    with inclusion probability proportional to length, via deterministic
    md5 uniforms and a TakeOrderedAndProject top-k (no global sort)."""
    from bun_csv_spark.operators.corpus import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", 25).select(
        "doc_id", "n_chars", "sample_key"
    )


def q_transition_counts(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: (prev_state, state) counts + out-of-state probabilities —
    one lag window (single keyed shuffle) + STATE^2-sized aggregates."""
    from bun_csv_spark.operators.timeseries import transition_counts

    return transition_counts(read_events(spark, sf_dir))


def q_dup_spans(spark, sf_dir):
    """Within-corpus duplicated-span detection (Lee et al. span-level
    dedup): maximal token ranges whose every 8-token window appears in
    >= 2 docs — gram-hash aggregate + interval-merge window, no
    all-pairs."""
    from bun_csv_spark.operators.dedup import duplicate_spans

    # r18: keyed spread of the gram explode's input (8.2 -> 1.8 s at
    # sf0.1 — the single-file scan ran the n-gram build one-core)
    return duplicate_spans(
        ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id"),
        n=8, min_docs=2,
    )


def q_dup_span_removal(spark, sf_dir):
    """Surgical removal of the duplicated spans: tokens covered by a
    span are cut via a positional array filter (pure codegen, no explode
    of the kept tokens); untouched docs pass through the left join."""
    from bun_csv_spark.operators.dedup import duplicate_spans, remove_duplicate_spans

    # r18: keyed spread (7.8 -> 1.45 s at sf0.1, same rationale)
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    spans = duplicate_spans(docs, n=8, min_docs=2)
    return remove_duplicate_spans(docs, spans)


def q_lm_score(spark, sf_dir):
    """Char-bigram LM quality score (KenLM-style perplexity filter,
    self-trained): alphabet^2-bounded model broadcast against the bigram
    stream; per-doc mean log-likelihood + perplexity."""
    from bun_csv_spark.functions.text import char_bigram_lm_score

    # r18: keyed spread — the bigram explode+join on a single-file scan
    # bottlenecked one core (A/B at sf0.1: 3.4 -> 1.5 s); no-op at scale
    return char_bigram_lm_score(
        ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    )


def q_weighted_sample_group(spark, sf_dir):
    """Per-language Efraimidis-Spirakis weighted sample (10 docs per
    stratum, weight = length): ranked window on the 9dp-rounded A-Res
    key with id tiebreak — total order, engine-portable."""
    from bun_csv_spark.operators.corpus import weighted_sample_per_group

    out = weighted_sample_per_group(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", "n_chars", 10
    )
    return out.select("lang", "doc_id", "n_chars", "sample_key")


def q_attribution(spark, sf_dir):
    """Last-touch conversion attribution: each purchase credited to the
    user's most recent preceding non-purchase event via one
    last(ignorenulls) keyed window — the as-of union-and-carry shape."""
    from bun_csv_spark.operators.timeseries import last_touch_attribution

    return last_touch_attribution(read_events(spark, sf_dir))


def q_quantile_sketch(spark, sf_dir):
    """Approximate quantiles by equi-width histogram interpolation:
    n_bins-bounded mergeable state, engine-portable arithmetic (unlike
    percentile_approx/approx_quantile, which can never be compared)."""
    from bun_csv_spark.functions.sketches import histogram_quantiles

    return histogram_quantiles(
        _t(spark, sf_dir, "orders"), "o_totalprice", [0.25, 0.5, 0.9, 0.99], 1000
    )


def q_hll_merge(spark, sf_dir):
    """Mergeable-sketch proof gate: events split into two shards
    (event_id parity), per-shard HLL register tables merged (union +
    per-register max), then estimated — by max-merge losslessness this
    EQUALS the whole-corpus estimate, which is what the oracle replays
    over the undivided table."""
    from bun_csv_spark.functions.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    ev = read_events(spark, sf_dir)
    a = hll_registers(ev.filter(F.col("event_id") % 2 == 0), ["event_type"], "user_id")
    b = hll_registers(ev.filter(F.col("event_id") % 2 == 1), ["event_type"], "user_id")
    merged = hll_merge(a, b, key_cols=["event_type"])
    return hll_estimate(merged, ["event_type"]).select(
        F.col("event_type").alias("scope"), "est_distinct"
    )


def q_retention(spark, sf_dir):
    """Daily cohort retention triangle over events: cohort = period of
    first activity, per-offset active counts + retention rates — two
    entity-keyed aggregates and a bounded cohort-size broadcast."""
    from bun_csv_spark.operators.timeseries import retention_cohorts

    return retention_cohorts(read_events(spark, sf_dir))


def q_data_quality(spark, sf_dir):
    """Data-quality expectations over orders: named boolean rules
    (completeness, ranges, domain membership) evaluated in ONE wide
    aggregate pass; per-rule violation counts + rates. NULL predicate =
    violation (an unknown is not a pass)."""
    from bun_csv_spark.operators.stats import validate_rules

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


def q_embedding_covariance(spark, sf_dir):
    """Distributed covariance matrix of the embedding column as (i, j,
    cov) rows — one corpus pass, map-side-combined dim^2 partials; the
    bounded summary driver-side PCA/whitening consumes."""
    from bun_csv_spark.operators.clustering import embedding_covariance

    return embedding_covariance(_t(spark, sf_dir, "embeddings"), "embedding", 64)


def q_pca_project(spark, sf_dir):
    """PCA projection machinery, VALUE-HASHED (r11 — this gate was
    rows-only through r10): the projection y_c = Σ_i (x_i − μ_i)·w_ci
    runs as clustering.pca_project_with's pure Column fold — the exact
    code path the full pca_project drives — with the components pinned
    to deterministic integer literals (dedup.embedding_planes seed 11,
    the proven dedup_embedding oracle recipe) and μ = 0, so DuckDB
    restates every output with list_dot_product. The parts this pins:
    the per-dim fold, literal baking, rounding/−0.0 canonicalization.
    The one non-SQL step, the driver-side numpy eigh (+ data-derived
    μ, sign pinning), stays pytest-verified against the dominant-
    direction + sign-determinism properties (test_round7_ops)."""
    from bun_csv_spark.operators.clustering import pca_project_with
    from bun_csv_spark.operators.dedup import embedding_planes

    comps = [[float(x) for x in w] for w in embedding_planes(11, 1, 2, 64)[0]]
    return pca_project_with(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        mu=[0.0] * 64, comps=comps, round_dp=6,
    )


def q_countmin_topk(spark, sf_dir):
    """Count-min frequency sketch over events.user_id: bounded 4x512
    counter table (shuffle volume independent of data size), then
    min-over-rows point estimates for every user joined to exact counts
    — top 20 by estimate. est_count >= exact_count always (collisions
    only inflate)."""
    from bun_csv_spark.functions.sketches import cm_estimate, cm_sketch

    ev = read_events(spark, sf_dir)
    sk = cm_sketch(ev, "user_id", depth=4, width=512)
    cands = ev.select("user_id").distinct()
    est = cm_estimate(sk, cands, "user_id", depth=4, width=512)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.join(exact, "user_id")
        .select("user_id", "exact_count", "est_count")
        .orderBy(F.desc("est_count"), "user_id")
        .limit(20)
    )


def q_cluster_split(spark, sf_dir):
    """Leakage-safe train/val/test split: near-dup clusters (LSH pairs ->
    connected components) move as a UNIT, so no eval doc has a train
    twin. Corpus is never shuffled — CC runs on the edge list, labels
    broadcast back, split is a map-side md5 rule on the group label."""
    from bun_csv_spark.operators.corpus import leakage_safe_split

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_minhash(
        corpus, "doc_id", "text",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    ).select("id_a", "id_b")
    out = leakage_safe_split(
        corpus, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("split_group").cast("long").alias("split_group"),
        "split",
    )


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


# Pinned IVF-PQ literals for the ann_pq gate: trained ONCE at sf0.01 via
# similarity.pq_train_codebooks (m=8, ksub=16, iters=2) and
# similarity.refined_centroids (4 cells, 1 Lloyd pass) — both fully
# deterministic, so a re-train reproduces these exactly (asserted in
# tests/test_round12_ops.py). Pinning makes the DuckDB oracle restate
# pure distance arithmetic, never k-means.
_ANN_PQ_CODEBOOKS = [
    [
        [0.045163, 0.051693, -0.017145, -0.165156, 0.117993, -0.040475, -0.037632, -0.043981],
        [-0.059588, -0.052838, 0.028473, -0.035254, -0.073062, -0.070829, -0.090861, 0.019427],
        [-0.014589, 0.017959, -0.092627, 0.102761, -0.0862, 0.018114, 0.070217, 0.104115],
        [-0.117582, 0.00175, 0.038428, -0.000628, 0.054825, -0.004655, 0.130162, -0.041825],
        [-0.019937, -0.002708, 0.044453, -0.002515, -0.030365, -0.195111, 0.158514, 0.135553],
        [-0.007981, -0.140905, 0.119603, 0.032278, 0.093148, -0.108443, -0.098635, 0.129604],
        [-0.038788, 0.112689, 0.071369, -0.098733, -0.10773, 0.119855, 0.005533, -0.015107],
        [0.219392, 0.026907, 0.045803, -0.019973, -0.018763, -0.039156, 0.00754, 0.117037],
        [-0.091769, -0.19449, 0.038914, 0.025494, -0.01633, 0.138245, -0.147549, 0.003708],
        [0.096249, -0.133506, -0.020041, 0.008486, 0.000874, 0.117146, -0.013657, -0.066477],
        [0.087266, -0.003994, -0.188806, -0.001947, -0.0214, 0.038331, -0.000449, -0.091243],
        [-0.088048, 0.018283, -0.057008, 0.040623, 0.048264, 0.034509, -0.148572, -0.163555],
        [0.002621, 0.009807, 0.100708, 0.002968, 0.146993, 0.200018, -0.14577, -0.007396],
        [0.071935, 0.040438, 0.051902, 0.151352, 0.059319, -0.008038, -0.052857, -0.016027],
        [-0.005931, -0.035537, -0.048583, -0.083841, 0.093932, 0.027132, -0.081071, 0.134566],
        [-0.074849, 0.045565, 0.018363, 0.027941, -0.154426, -0.202306, -0.052982, -0.099566],
    ],
    [
        [0.159174, 0.016023, -0.018135, 0.027226, -0.144035, -0.035348, -0.018012, -0.039699],
        [-0.080465, 0.097243, -0.103576, 0.110692, 0.094968, -0.085683, 0.069614, -0.043844],
        [-0.096486, -0.142131, 0.012893, 0.021726, -0.085308, 0.076833, 0.026971, 0.108589],
        [-0.091162, 0.019311, -0.064848, 0.07181, 0.0598, 0.226188, 0.002426, 0.007008],
        [-0.022211, 0.148408, 0.141847, 0.00136, -0.001299, 0.00947, 0.126388, -0.077229],
        [-0.104092, 0.056581, 0.119458, 0.095291, -0.011062, -0.043141, -0.110995, -0.01544],
        [0.055613, 0.276148, 0.108941, 0.01649, -0.041711, 0.162609, -0.060319, -0.024536],
        [-0.086627, -0.111327, 0.043084, -0.030571, -0.113693, -0.035418, 0.069326, -0.14234],
        [-0.010646, 0.083854, -0.099391, 0.059565, 0.026427, 0.010372, -0.049581, 0.160429],
        [-0.063136, 0.063525, -0.039907, -0.076115, -0.143704, -0.004289, -0.119117, -0.030429],
        [0.041558, -0.072501, -0.042476, -0.080439, 0.04957, -0.126468, 0.00506, -0.015189],
        [0.040028, 0.038315, 0.09236, -0.118322, 0.093721, 0.058519, -0.094338, 0.040048],
        [0.085265, -0.079446, 0.042481, 0.032569, 0.06338, 0.053649, 0.101263, 0.093984],
        [-0.019046, -0.049919, 0.171414, -0.120922, 0.041702, -0.212304, -0.048005, 0.054231],
        [0.108785, 0.144023, -0.062737, -0.016277, 0.099098, -0.088644, 0.201485, -0.027838],
        [-0.032899, -0.158769, -0.040219, 0.025979, -0.009335, 0.078809, -0.074704, -0.149574],
    ],
    [
        [0.020152, 0.054868, -0.030259, 0.112194, -0.1521, -0.053761, 0.045582, -0.107816],
        [-0.024136, 0.01116, 0.067419, -0.15294, 0.055658, 0.170845, 0.074393, -0.086117],
        [-0.183612, 0.016776, -0.095358, -0.210844, 0.186597, 0.044497, 0.218238, -0.073167],
        [0.019165, -0.055185, -0.058031, 0.103562, 0.067296, -0.011294, -0.04262, 0.01133],
        [0.036857, 0.187713, 0.006315, -0.039389, 0.010322, 0.066266, -0.064075, 0.005672],
        [0.21364, -0.049521, -0.025173, 0.037674, -0.06337, -0.127776, 0.07022, 0.189365],
        [-0.036816, 0.160054, -0.101022, -0.076051, 0.044669, -0.132386, -0.0199, -0.039474],
        [0.068608, 0.027188, -0.118364, 0.076303, -0.031036, 0.097779, 0.085295, -0.015428],
        [0.067561, -0.040104, 0.138206, 0.031813, 0.082701, -0.046219, 0.096423, -0.034658],
        [0.002231, 0.080627, 0.06133, -0.108895, -7.4e-05, 0.02273, 0.115234, 0.235671],
        [0.012381, 0.090323, 0.082384, -0.080549, -0.148108, 0.051593, 0.015967, -0.000604],
        [0.147801, 0.003498, -0.02974, -0.105028, -0.05651, -0.106066, 0.110341, -0.071939],
        [-0.067414, -0.129424, -0.098109, -0.074061, -0.034833, 0.07488, 0.001106, -0.010086],
        [0.03844, 0.053944, 0.078227, -0.046232, 0.138396, 0.003353, -0.012852, -0.246033],
        [0.014574, -0.074672, 0.098713, 0.007734, 0.014693, -0.063645, -0.128717, 0.085714],
        [-0.164269, 0.045705, 0.040084, 0.050452, -0.030679, -0.062406, -0.004266, -0.014364],
    ],
    [
        [0.032555, 0.182784, 0.134476, 0.009743, 0.022164, 0.076943, -0.004346, 0.183094],
        [0.096414, 0.086441, -0.08791, -0.014928, -0.005973, 0.171653, -0.088402, 0.057738],
        [-0.012511, -0.064251, -0.058717, -0.058097, 0.031628, 0.105536, -0.057279, -0.118697],
        [-0.072934, -0.023083, 0.017204, -0.116403, -0.132828, -0.051052, -0.064267, 0.025659],
        [-0.005932, -0.089646, 0.157687, -0.048732, 0.086637, 0.009898, 0.114181, 0.032673],
        [0.152332, 0.06472, -0.005011, -0.058964, 0.063525, 0.07364, 0.094475, -0.111147],
        [-0.050013, -0.120467, 0.022126, 0.100977, 0.051807, -0.006545, 0.023295, -0.052052],
        [0.042875, -0.082864, -0.105796, 0.036477, -0.043575, 0.081172, 0.136989, 0.10891],
        [-0.099546, 0.15767, -0.026785, 0.064883, 0.045162, -0.296227, 0.016597, -0.072797],
        [-0.02627, -0.049602, -0.093513, 0.069501, -0.07468, -0.119671, 0.030189, -0.144782],
        [0.08728, 0.105804, -0.133454, 0.164228, -0.088224, 0.02088, -0.110751, -0.020635],
        [0.095821, 0.095403, 0.06197, 0.046098, -0.106678, -0.010978, -0.037742, 0.03565],
        [-0.058536, 0.229083, -0.070495, 0.034683, 0.005713, -0.081875, 0.092452, -0.106902],
        [0.04226, -0.004416, 0.044282, 0.022239, 0.083869, -0.11788, -0.065276, 0.066689],
        [-0.169424, 0.057267, -0.032484, -0.012767, 0.052087, 0.084848, -0.063872, 0.046164],
        [-0.047828, 0.034079, 0.000612, 0.013166, -0.125595, -0.055979, 0.160684, -0.045907],
    ],
    [
        [-0.161225, -0.167822, -0.007776, 0.069895, -0.014678, -0.013155, 0.007091, 0.04567],
        [0.003445, -0.066469, -0.051948, 0.067878, -0.062483, -0.074901, 0.063553, -0.161744],
        [0.029718, -0.018823, -0.092877, 0.115999, 0.077186, 0.080044, 0.078697, 0.037481],
        [0.182234, 0.00629, -0.05919, -0.050966, 0.016103, -0.054181, 0.030629, -0.085635],
        [-0.12072, 0.020704, 0.000729, -0.095137, -0.087541, 0.038687, -0.059715, -0.076825],
        [-0.012578, -0.037984, -0.002184, 0.119769, -0.014946, 0.082395, -0.138403, 0.007366],
        [-0.120031, -0.104255, -0.065619, 0.025945, 0.195671, 0.115973, -0.001223, 0.071403],
        [-0.049221, -0.058693, -0.04563, -0.029617, -0.044145, -0.142837, 0.052339, 0.136573],
        [-0.020069, -0.035258, 0.11974, -0.037674, 0.068428, -0.003577, 0.117817, -0.045307],
        [-0.048838, -0.017536, 0.143576, 0.09334, -0.278038, -0.071572, 0.126046, 0.043009],
        [0.159866, -0.111121, 0.062086, 0.011501, 0.07922, 0.033423, -0.000879, 0.075377],
        [0.049678, -0.081506, -0.030034, -0.072662, 0.036142, -0.089224, -0.140467, 0.045558],
        [-0.017756, 0.112808, -0.033387, -0.058803, -0.060619, 0.044396, -0.024261, 0.153251],
        [0.096602, 0.106157, 0.074175, 0.017079, -0.026523, 0.141063, 0.027943, -0.008675],
        [0.046795, 0.171599, 0.036238, 0.02457, 0.084945, -0.137463, -0.0848, -0.044704],
        [0.076088, 0.021766, 0.055662, -0.155782, -0.109716, -0.136248, 0.103875, -0.02687],
    ],
    [
        [-0.000824, 0.02298, -0.07459, 0.030158, -0.001476, 0.139994, 0.062582, -0.089074],
        [0.029836, -0.073495, 0.169243, 0.023932, 0.060351, 0.026953, -0.01903, -0.147164],
        [-0.031194, 0.021616, 0.140947, 0.025861, -0.148506, 0.058349, -0.078641, -0.053856],
        [-0.070792, -0.107026, -0.121588, 0.06026, 0.061068, 0.050287, -0.081153, -0.035201],
        [0.000624, 0.001753, -0.172587, -0.063322, 0.006796, 0.040948, -0.125527, 0.145937],
        [-0.096016, 0.092529, -0.115732, 0.031205, -0.14134, -0.051171, 0.061154, 0.003835],
        [0.132987, -0.083187, -0.017599, -0.1002, 0.023577, 0.057959, 0.071621, 0.091602],
        [-0.088208, -0.103605, 0.033909, 0.070717, -0.011394, 0.047475, 0.014107, 0.130707],
        [-0.039571, -0.084956, -0.054349, 0.018068, 0.078742, -0.105997, 0.089216, -0.073392],
        [0.127289, 0.035675, 0.092555, 0.108045, -0.125378, 0.015832, 0.053367, -0.067189],
        [-0.04042, -0.217913, -0.062856, -0.09502, -0.071568, -0.046224, -0.001162, -0.102987],
        [0.101268, 0.007234, -0.005995, -0.1192, 0.047311, -0.059734, -0.124169, -0.014646],
        [0.066615, 0.04387, -0.045768, 0.142651, 0.035283, -0.046501, -0.048098, 0.073965],
        [-0.072903, -0.029299, -0.030606, -0.160536, -0.163619, 0.035228, -0.091768, 0.031453],
        [0.000791, 0.085871, 0.089998, -0.073091, -0.033261, -0.179057, 0.074376, 0.029624],
        [-0.075826, 0.170278, 0.027134, -0.066076, 0.071276, -0.026979, 0.020049, 0.062923],
    ],
    [
        [0.043428, -0.136518, -0.021342, 0.146104, 0.071554, -0.093973, 0.056246, -0.018839],
        [-0.033879, -0.19113, 0.032392, 0.001865, 0.000762, 0.102411, 0.005148, 0.124993],
        [0.08776, -0.00449, 0.116994, -0.087882, -0.008073, -0.088383, 0.10952, 0.193123],
        [0.262816, -0.208525, 0.003365, -0.053756, 0.005514, 0.103206, -0.091905, 0.010293],
        [-0.053924, -0.030688, 0.043328, 0.047928, 0.031028, 0.124371, 0.094308, -0.021284],
        [0.0232, -0.00202, 0.126017, 0.03536, -0.021745, 0.067423, -0.134732, -0.17931],
        [0.025606, 0.006466, -0.115925, 0.102496, -0.00658, -0.02273, -0.040371, 0.137985],
        [-0.030302, -0.014929, 0.138228, 0.055226, 0.028182, -0.080503, -0.07582, 0.101245],
        [-0.145345, -0.004361, 0.008597, 0.053478, -0.129425, 0.097943, -0.07793, -0.129485],
        [0.0548, -0.05473, 0.041289, -0.127844, -0.115814, 0.027329, -0.002108, 0.032424],
        [0.077303, 0.116641, 0.071986, -0.041751, 0.116438, -0.011894, 0.008827, -0.01782],
        [0.108165, 0.070555, -0.119275, -0.123674, -0.001853, 0.055286, 0.068419, -0.015543],
        [-0.142502, 0.065165, -0.017106, -0.02458, 0.155214, -0.002678, -0.072204, -0.024003],
        [-0.136899, -0.095238, -0.091288, -0.043934, -0.044853, -0.045886, -0.024023, -0.006638],
        [-0.061295, 0.031828, 0.05412, 0.055468, -0.003928, -0.118577, 0.099903, -0.009236],
        [0.047019, 0.048797, -0.046222, -0.040536, -0.064304, -0.118802, -0.025678, -0.155739],
    ],
    [
        [-0.03784, -0.095765, -0.118162, -0.077438, -0.073108, -0.023202, 0.085988, -0.179284],
        [0.038913, -0.075468, -0.00628, 0.099357, -0.098391, 0.048393, -0.089241, -0.069139],
        [0.058743, -0.101224, -0.003425, 0.103186, 0.032882, 0.151173, 0.07216, 0.006067],
        [-0.082874, -0.061943, -0.0285, -0.10563, 0.10328, -0.055198, -0.026043, -0.081326],
        [0.09992, -0.14632, -0.024953, -0.06227, -0.024341, -0.002627, 0.088512, 0.098668],
        [-0.085347, 0.039583, 0.001187, 0.012129, -0.134985, 0.054315, -0.017482, 0.108326],
        [-0.101628, 0.073497, -0.005646, 0.017394, 0.065937, 0.024527, 0.156258, 0.003863],
        [0.019712, 0.118951, -0.186699, -0.087358, 0.059502, 0.047948, -0.060181, -0.094821],
        [-0.065036, 0.073705, 0.081782, -0.128962, -0.083681, -0.091883, 0.027408, 0.018581],
        [0.046691, 0.002166, 0.033073, -0.128386, 0.012302, 0.10283, 0.003626, -0.009243],
        [0.138735, 0.063432, 0.023642, 0.033912, 0.116973, -0.118567, -0.052916, 0.058183],
        [-0.029716, 0.107597, -0.104344, 0.016429, 0.14113, 0.026389, -0.059245, 0.184372],
        [0.016333, -0.105773, 0.148305, -0.008466, 0.125301, 0.058899, -0.131053, -0.084354],
        [-0.130458, 0.040737, 0.029273, 0.140264, 0.055548, -0.00754, -0.135649, -0.007175],
        [-0.007096, 0.011957, -0.184939, 0.097762, -0.009725, -0.097906, 0.083208, 0.004459],
        [0.06872, 0.068574, 0.108717, 0.067779, -0.087243, -0.034892, -0.048132, -0.103556],
    ],
]

_ANN_PQ_COARSE = [
    (0, [0.021933, -0.001037, 0.013345, -0.033496, 0.027499, -0.003346, -0.022352, 0.004196, 0.046226, -0.003135, 0.016345, -0.017812, -0.024263, -0.018513, -0.010161, -0.002877, 0.010921, 0.019493, 0.011042, 0.036423, -0.044163, -0.014547, 0.011965, -0.025447, -0.023597, 0.037825, 0.018171, 0.01741, 0.005276, 0.021406, 0.021127, 0.048025, -0.012726, -0.023847, 0.019151, -0.005393, -0.020975, 0.007919, -0.009024, 0.025321, 0.006062, -0.004184, -0.003176, -8.5e-05, -0.007594, 0.026398, 0.0229, 0.003842, -0.019782, 0.000392, -0.007415, 0.026475, 0.019039, -0.036693, 0.021726, -0.006831, 0.002645, 0.00746, -0.040996, -0.034477, -0.014392, 0.003549, 0.010083, -0.040663]),
    (1, [-0.025136, -0.020336, 0.015826, -0.003518, -0.009237, 0.011969, -0.050855, 0.020489, -0.019358, 0.038429, -0.014827, 0.019563, 0.040506, -0.047926, 0.017611, -0.007927, 0.014973, -0.007443, 0.013789, -0.028073, 0.01055, 0.037853, -0.00379, -0.019158, 0.022301, 0.037117, -0.014703, 0.027288, -0.000924, 0.01654, -0.009615, 0.001739, -0.016546, -0.005482, 0.008024, 0.009654, -0.027045, -0.039757, 0.004805, -0.052073, -0.010328, -0.026634, 0.032565, 0.004389, 0.001318, -0.008574, -0.016338, 0.001703, -0.060444, -0.043393, 0.009326, 0.005486, -0.001843, 0.031069, -0.003813, 0.010774, 0.010146, -0.009389, 0.01271, 0.01601, -0.03019, 0.002699, -0.031239, -0.019703]),
    (2, [0.025586, 0.000117, -0.018787, 0.021, 0.011351, 0.017209, -0.013097, 0.011097, -0.009938, -0.058347, 0.014613, -0.011928, -0.039754, 0.01617, -0.008271, 0.019563, -0.012685, 0.026526, -0.02489, -0.034083, 0.010488, 0.006921, 0.031428, -0.002224, 0.005069, -0.0358, -0.023119, 0.009753, 0.020926, 0.004468, 0.004977, -0.05434, 5.2e-05, -0.003382, -0.001287, 0.006697, 0.00535, 0.036149, 0.019075, 0.034642, 0.006627, -0.00032, 0.032194, 0.000133, -0.03894, 0.0069, 0.007654, 0.018935, 0.02168, 0.028249, 0.032083, -0.01724, 0.002909, -0.02078, 0.028306, 0.012597, 0.016665, -0.020145, 0.002245, 0.023937, 0.028779, 0.016693, 0.018939, 0.036149]),
    (3, [-0.018136, 0.001886, 0.006297, -0.001975, 0.007692, 0.005875, 0.012369, 0.001834, -0.031528, 0.025939, 0.007387, 0.027237, 0.018897, 0.057939, 0.002072, 0.014393, 0.000818, -0.018435, -0.000842, 0.028536, 0.011297, -0.018478, -0.025769, 0.015583, -0.008845, 0.013628, 0.012291, -0.012009, -0.03198, -0.042672, 0.003929, -0.020473, 0.064375, 0.007534, -0.006133, -0.005683, 0.021455, -0.015387, -0.019058, -0.019128, -0.010948, -0.018208, -0.061025, -0.00662, 0.000982, -0.012245, -0.020004, -0.001717, 0.041582, -0.031003, 0.003678, -0.022149, 0.009861, 0.016255, -0.03091, -0.031121, -0.010758, 0.012148, 0.010359, -0.039142, 0.013167, -0.003628, -0.005858, -0.029611]),
]


def q_ann_pq(spark, sf_dir):
    """IVF-PQ ANN (FAISS IVFPQ; Jegou et al. 2011): coarse Voronoi prune
    (4 pinned cells, nprobe=2) -> asymmetric-distance scan over 8-byte
    PQ codes (8 subspaces x 16-centroid codebooks, per-sub distances as
    exact e6 fixed-point longs so the cross-sub sum is
    reassociation-free) -> exact cosine re-rank of the top-50. The
    codebooks and coarse centroids are pinned literals (trained once,
    deterministically — header comment above _ANN_PQ_CODEBOOKS), so the
    DuckDB oracle restates pure distance arithmetic: encode argmin,
    table lookup, ranked cuts. Recall vs brute force is asserted in
    tests/test_round12_ops.py; the 100 TB serving shape (materialized
    int8 codes + cell-partitioned store) is exercised there via
    code_col= and pq_encode_expr."""
    from bun_csv_spark.operators.similarity import ann_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding").first()["embedding"]
    return ann_pq_topk(
        emb, list(qvec), _ANN_PQ_CODEBOOKS, k=10, rerank=50,
        coarse_centroids=_ANN_PQ_COARSE, nprobe=2,
    )


def q_ohlc_resample(spark, sf_dir):
    """Hourly OHLC candlesticks per event type: open/high/low/close from
    ONE hash aggregate (min_by/max_by over a total-order key — no sort,
    no window, deterministic under timestamp ties)."""
    from bun_csv_spark.operators.timeseries import ohlc_resample

    return ohlc_resample(read_events(spark, sf_dir))


def q_join_size_estimate(spark, sf_dir):
    """Shuffle-free join-cardinality estimation: count-min sketches of
    orders.o_custkey and customer.c_custkey (one scan each, bounded
    state), inner-product estimate vs the exact join count. The
    'should I even run this join' planner primitive."""
    from bun_csv_spark.functions.sketches import cm_inner_product, cm_sketch

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


def q_streaming_hll(spark, sf_dir):
    """REAL Structured Streaming sketch maintenance: events replayed
    through readStream, HLL register state updated as a streaming
    aggregate (state bounded at keys x 2^p rows), estimate computed from
    the drained register table. Because the md5 registers are
    deterministic and max-merge is order-independent, the streamed
    estimate must equal the batch estimate EXACTLY — which is what the
    oracle checks."""
    import os as _os

    from bun_csv_spark.functions.sketches import hll_estimate, hll_registers
    from bun_csv_spark.streaming.windows import run_stream_to_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")

    def transform(stream):
        return hll_registers(stream, ["event_type"], "user_id", p=8)

    regs = run_stream_to_table(spark, path, transform, output_mode="complete")
    return hll_estimate(regs, ["event_type"], p=8).select(
        "event_type", "est_distinct"
    )


def q_streaming_kmv(spark, sf_dir):
    """Per-key KMV bottom-k maintained LIVE over the real streaming
    engine (streaming/windows.py streaming_kmv_state,
    applyInPandasWithState): the events replay is staged as THREE
    deterministic micro-batches (event_id % 3, stage_phased_replay +
    maxFilesPerTrigger=1), the state store carries <=k sorted hashes
    per event_type across batches, and each batch emits that key's
    updated state with a bumped version. Because the hashes are
    deterministic md5 (JVM-side, same 'kmv:' salt as kmv_distinct) and
    bottom-k union-merge is order- and batching-free, the final state
    must equal the batch bottom-64 over the undivided table EXACTLY —
    and the final version must equal the number of batches that
    contained the key (count of distinct event_id % 3 residues), which
    is what proves the state actually crossed micro-batch boundaries.
    Unlike streaming_hll (a built-in streaming agg over registers),
    bottom-k needs a per-key rank and so exercises the CUSTOM stateful
    operator path."""
    from pyspark.sql import Window as _W

    from bun_csv_spark.streaming.windows import (
        run_stream_to_table,
        stage_phased_replay,
        streaming_kmv_state,
    )

    ev = read_events(spark, sf_dir).select("event_id", "event_type", "user_id")
    src = _scratch_dir("kmv_replay", sf_dir)
    stage_phased_replay(
        ev,
        [
            ("r0", F.col("event_id") % 3 == 0),
            ("r1", F.col("event_id") % 3 == 1),
            ("r2", F.col("event_id") % 3 == 2),
        ],
        src,
    )
    out = run_stream_to_table(
        spark,
        src,
        lambda s: streaming_kmv_state(s, "event_type", "user_id", k=64),
        output_mode="update",
        max_files_per_trigger=1,
    )
    final = out.withColumn(
        "__rk",
        F.row_number().over(
            _W.partitionBy("event_type").orderBy(F.col("version").desc())
        ),
    ).filter(F.col("__rk") == 1)
    return final.select(
        "event_type", F.explode("hs").alias("h"), "version"
    )


def q_image_dhash(spark, sf_dir):
    """Perceptual dHash over REAL decoded BMP pixels: id-derived textured
    images, nearest-neighbor 9x8 grayscale sample, adjacent-column
    comparisons packed into one int64 — every integer step restated by
    the oracle from doc_id arithmetic alone."""
    from bun_csv_spark.multimodal.binary import attach_bmp_payload, extract_dhash

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return extract_dhash(attach_bmp_payload(docs, texture=True))


def q_image_neardup(spark, sf_dir):
    """Image near-duplicate detection at corpus scale: originals +
    brightness-shifted copies (the classic re-encode twin), perceptual
    dHash per image, banded Hamming pairing (hamming_pairs64 — one
    banding shuffle + capped per-bucket pair collect, never n^2). Thumbnails
    (< 8px a side) are skipped — their perceptual hash is noise."""
    from bun_csv_spark.multimodal.binary import attach_bmp_payload, extract_dhash
    from bun_csv_spark.operators.dedup import hamming_pairs64

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    orig = attach_bmp_payload(docs, texture=True)
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("doc_id").alias("img_src")
    )
    pert = attach_bmp_payload(
        copies, src_col="img_src", bias=5, texture=True
    ).select("doc_id", "payload")
    hashes = (
        extract_dhash(orig)
        .unionByName(extract_dhash(pert))
        .filter((F.col("width") >= 8) & (F.col("height") >= 8))
        .select("doc_id", "dhash")
    )
    return hamming_pairs64(hashes, "doc_id", "dhash", max_hamming=8, max_bucket=64)


def q_audio_fingerprint(spark, sf_dir):
    """Waveform difference-fingerprint over REAL decoded PCM samples:
    65 duration-invariant sample points, adjacent comparisons packed
    into one int64 — the audio analogue of image_dhash, every step
    oracle-restated from doc_id arithmetic."""
    from bun_csv_spark.multimodal.binary import (
        attach_pcm_wav_payload,
        extract_audio_fingerprint,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return extract_audio_fingerprint(attach_pcm_wav_payload(docs, texture=True))


def q_audio_neardup(spark, sf_dir):
    """Audio near-duplicate detection: originals + DC-shifted re-levels
    of the same recording, difference fingerprints, banded Hamming
    pairing via the shared hamming_pairs64 — the whole perceptual-dedup
    stack (text SimHash / image dHash / audio fingerprint) funnels into
    ONE scale-safe pairing operator."""
    from bun_csv_spark.multimodal.binary import (
        attach_pcm_wav_payload,
        extract_audio_fingerprint,
    )
    from bun_csv_spark.operators.dedup import hamming_pairs64

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    orig = attach_pcm_wav_payload(docs, texture=True)
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("doc_id").alias("src")
    )
    pert = attach_pcm_wav_payload(
        copies, src_col="src", bias=4, texture=True
    ).select("doc_id", "payload")
    fps = (
        extract_audio_fingerprint(orig)
        .unionByName(extract_audio_fingerprint(pert))
        .select("doc_id", "fingerprint")
    )
    return hamming_pairs64(fps, "doc_id", "fingerprint", max_hamming=8, max_bucket=64)


def q_quantile_merge(spark, sf_dir):
    """Sharded quantile pipeline with FIXED-domain histogram states:
    events split into two shards, each reduced to a <=120-counter state,
    merged by plain counter sum, per-event-type p50/p90/p99 estimated
    from the merged state — the persistable/mergeable quantile analogue
    of hll_merge and cm_merge (oracle = undivided histogram: equality
    IS the merge proof)."""
    from bun_csv_spark.functions.sketches import (
        histogram_merge,
        histogram_state,
        histogram_state_quantiles,
    )

    ev = read_events(spark, sf_dir)
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    keys = ["event_type"]
    merged = histogram_merge(
        histogram_state(a, "value", 0.0, 600.0, 120, keys),
        histogram_state(b, "value", 0.0, 600.0, 120, keys),
        key_cols=keys,
    )
    return histogram_state_quantiles(
        merged, [0.5, 0.9, 0.99], 0.0, 600.0, 120, keys
    )


def q_scd2_build(spark, sf_dir):
    """SCD Type 2 dimension build from the events change stream: each
    user's events become versioned rows with eff_from/eff_to/version/
    is_current — ONE keyed window, no self-join. The warehouse shape
    asof_join resolves facts against."""
    from bun_csv_spark.operators.maintenance import scd2_build

    ev = read_events(spark, sf_dir)
    return scd2_build(
        ev, ["user_id"], "ts", ["event_type", "value"], tiebreak_col="event_id"
    )


def q_incremental_day_pipeline(spark, sf_dir):
    """The daily-maintenance composition gate: events sharded into 3
    deterministic "days" (event_id % 3), ALL FOUR mergeable state
    families built PER DAY — exact moments (maintenance.agg_state),
    distinct users (sketches.hll_registers), value quantiles
    (sketches.histogram_state, fixed [0,600)x120 domain), and
    event-type frequencies (sketches.cm_sketch) — merged across the
    days, finalized, and joined into ONE per-event_type summary row.

    The oracle replays every estimator over the UNDIVIDED table, so
    hash equality proves merge(day states) == single pass for the whole
    composition, not just each family in isolation: exactly the nightly
    job a 100 TB corpus runs (merge yesterday's persisted states with
    today's delta, never re-scan history). Extends the reference's
    stats surface (reference src/cli/commands/stats.ts) to incremental
    maintenance.

    Moments run on centi-units (floor(value*100) as LONG) so per-day
    sums are integer-exact and the 3-way merge is bit-identical to the
    one-shot aggregate — double sums would reassociate. All join inputs
    are bounded (one row per event_type / per register / per bin /
    per counter), so the final joins are broadcast-sized at any SF."""
    from bun_csv_spark.functions.sketches import (
        cm_estimate,
        histogram_state_quantiles,
        hll_estimate,
    )
    from bun_csv_spark.operators.maintenance import (
        finalize_agg_state,
        pipeline_state_build,
        pipeline_state_merge,
    )

    keys = ["event_type"]
    ev = read_events(spark, sf_dir).withColumn(
        "v_c", F.floor(F.col("value") * 100).cast("long")
    )
    days = [ev.filter(F.col("event_id") % 3 == d) for d in range(3)]

    # the nightly-job API: per-day family states, family-wise merge.
    # One subtlety vs daily_state_update's single value column: moments
    # run on the centi-unit LONG (integer-exact merges) while the
    # histogram bins the raw double — so build on v_c and rebind the
    # histogram family to the raw value's fixed [0,600)x120 domain.
    from bun_csv_spark.functions.sketches import histogram_state

    states = []
    for d in days:
        st = pipeline_state_build(d, keys, "v_c", "user_id", 0.0, 600.0, 120)
        st["hist"] = histogram_state(d, "value", 0.0, 600.0, 120, keys)
        states.append(st)
    merged = states[0]
    for st in states[1:]:
        merged = pipeline_state_merge(merged, st, keys)

    # 1. exact moments: integer agg states merged bit-identically
    moments = finalize_agg_state(merged["agg"]).select(
        "event_type",
        "n",
        F.col("min").alias("min_c"),
        F.col("max").alias("max_c"),
        F.col("mean_e4").alias("mean_c_e4"),
        F.col("stddev_pop_e4").alias("stddev_c_e4"),
    )

    # 2. distinct users: HLL registers max-merged losslessly
    users = hll_estimate(merged["hll"], keys).select(
        "event_type", F.col("est_distinct").alias("est_distinct_users")
    )

    # 3. value quantiles from the sum-merged fixed-domain histogram
    quant = (
        histogram_state_quantiles(
            merged["hist"], [0.5, 0.9], 0.0, 600.0, 120, keys
        )
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("q") == 0.5, F.col("est"))).alias("p50"),
            F.max(F.when(F.col("q") == 0.9, F.col("est"))).alias("p90"),
        )
    )

    # 4. frequencies: sum-merged count-min, point-queried per type
    freq = cm_estimate(
        merged["cm"], ev.select("event_type").distinct(), "event_type"
    )

    return (
        moments.join(users, keys)
        .join(quant, keys)
        .join(freq, keys)
        .select(
            "event_type",
            "n",
            "min_c",
            "max_c",
            "mean_c_e4",
            "stddev_c_e4",
            "est_distinct_users",
            "p50",
            "p90",
            F.col("est_count").alias("est_count_cm"),
        )
    )


def q_multimodal_cluster_split(spark, sf_dir):
    """Cross-modality leakage-safe split: near-dup EDGES from all three
    perceptual pipelines — text MinHash-LSH pairs, image dHash Hamming
    pairs, audio fingerprint Hamming pairs — unioned into ONE graph, so
    each connected component (which may SPAN modalities: doc A text-twins
    doc B whose image twins doc C) moves into train/val/test as a unit.
    This is the contamination guarantee a multimodal training corpus
    actually needs — an eval doc must have no train twin in ANY modality;
    per-modality splits leak through the other two.

    Scale shape identical to cluster_split: the three edge lists are
    banded-LSH outputs (never all-pairs, degenerate buckets capped),
    connected components runs over the UNION OF EDGES only, labels
    broadcast back, and the corpus itself is never shuffled — the split
    is a map-side md5 rule on the component label."""
    from bun_csv_spark.multimodal.binary import (
        attach_bmp_payload,
        attach_pcm_wav_payload,
        extract_audio_fingerprint,
        extract_dhash,
    )
    from bun_csv_spark.operators.corpus import leakage_safe_split
    from bun_csv_spark.operators.dedup import hamming_pairs64

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    twins = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("doc_id").alias("src")
    )

    # text edges: MinHash-LSH over originals + ' the end' twins
    tpairs = neardup_pairs_minhash(
        _neardup_corpus(spark, sf_dir), "doc_id", "text",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    ).select("id_a", "id_b")

    # image edges: perceptual dHash over originals + brightness-shifted twins
    ih = (
        extract_dhash(attach_bmp_payload(docs, texture=True))
        .unionByName(
            extract_dhash(
                attach_bmp_payload(
                    twins, src_col="src", bias=5, texture=True
                ).select("doc_id", "payload")
            )
        )
        .filter((F.col("width") >= 8) & (F.col("height") >= 8))
        .select("doc_id", "dhash")
    )
    ipairs = hamming_pairs64(
        ih, "doc_id", "dhash", max_hamming=8, max_bucket=64
    ).select("id_a", "id_b")

    # audio edges: difference fingerprints over originals + DC-shifted twins
    af = (
        extract_audio_fingerprint(attach_pcm_wav_payload(docs, texture=True))
        .unionByName(
            extract_audio_fingerprint(
                attach_pcm_wav_payload(
                    twins, src_col="src", bias=4, texture=True
                ).select("doc_id", "payload")
            )
        )
        .select("doc_id", "fingerprint")
    )
    apairs = hamming_pairs64(
        af, "doc_id", "fingerprint", max_hamming=8, max_bucket=64
    ).select("id_a", "id_b")

    edges = tpairs.unionByName(ipairs).unionByName(apairs).distinct()
    corpus = docs.unionByName(twins.select("doc_id"))
    out = leakage_safe_split(
        corpus, edges, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("split_group").cast("long").alias("split_group"),
        "split",
    )


def q_corpus_overlap(spark, sf_dir):
    """Cross-corpus distinct-shingle overlap WITHOUT comparing the
    corpora directly: each side reduces to a KMV bottom-k state (k=512)
    of its distinct 5-char shingle hashes in ONE scan, then |A|, |B|,
    |A∪B|, |A∩B| and Jaccard come from the two <=k-row states alone
    (Beyer et al. 2007 set algebra, sketches.kmv_set_estimates) — the
    pre-flight that tells you HOW MUCH two 100 TB crawls share before
    launching the expensive span-level decontamination pass. Sides here
    are overlapping document subsets (doc_id % 2 == 0 vs % 3 == 0), so
    the true intersection is large and the estimate is exercised off the
    degenerate corners."""
    from bun_csv_spark.functions.sketches import kmv_set_estimates, kmv_state
    from bun_csv_spark.functions.text import char_shingles

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def shingle_hashes(side):
        return side.select(
            F.explode(F.array_distinct(char_shingles("text", 5))).alias("sh")
        )

    a = shingle_hashes(docs.filter(F.col("doc_id") % 2 == 0))
    b = shingle_hashes(docs.filter(F.col("doc_id") % 3 == 0))
    return kmv_set_estimates(kmv_state(a, "sh", 512), kmv_state(b, "sh", 512), 512)


def q_corpus_overlap_by_domain(spark, sf_dir):
    """corpus_overlap lifted to PER-DOMAIN sketches — the real pre-flight
    question is rarely "how much do two crawls share" but "which DOMAINS
    do they share": one scan per corpus builds a <=k-row KMV bottom-k
    state per source domain (sketches.kmv_state_by), then per-domain
    |A|, |B|, |A∪B|, |A∩B| and Jaccard come from the state tables alone
    (Beyer et al. 2007 set algebra per group). At 100 TB the estimate
    stage touches only k longs per domain; the corpora are scanned
    exactly once each. k=128 keeps most sf0.01 domains on the estimator
    path (not the exact below-k degenerate)."""
    from bun_csv_spark.functions.sketches import kmv_set_estimates_by, kmv_state_by
    from bun_csv_spark.functions.text import char_shingles

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def shingle_hashes(side):
        return side.select(
            "source",
            F.explode(F.array_distinct(char_shingles("text", 5))).alias("sh"),
        )

    a = shingle_hashes(docs.filter(F.col("doc_id") % 2 == 0))
    b = shingle_hashes(docs.filter(F.col("doc_id") % 3 == 0))
    return kmv_set_estimates_by(
        kmv_state_by(a, ["source"], "sh", 128),
        kmv_state_by(b, ["source"], "sh", 128),
        ["source"],
        128,
    )


# ---------------------------------------------------------------------------
# registry + oracles
# ---------------------------------------------------------------------------


def _freshness_order(raw: "dict") -> "dict":
    """Reorder the registry FRESHNESS-FIRST from the checked-in last-green
    map (tools/registry_green.json): the driver's capped correctness run
    covers the first `window` (50) entries, so gates sort by how little
    oracle evidence they have — (1) never-checked / new gates (no
    last_green), (2) gates whose last green predates a code or data-encoding
    change (stale), (3) everything else, oldest green first. Ties keep the
    raw declaration order. This replaces the manual per-round reshuffle the
    round-6 verdict flagged (14 new gates silently outside the window);
    tests/test_registry_order.py asserts the invariants, and the map is the
    only thing to update each round (tools/update_registry_green.py)."""
    import json as _json

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tools", "registry_green.json")
    try:
        with open(path) as f:
            green = _json.load(f)["gates"]
    except (OSError, ValueError, KeyError):
        return raw

    def key(pair):
        i, name = pair
        g = green.get(name) or {}
        lg = g.get("last_green")
        if g.get("defer"):
            # conscious round-split (test_registry_order's overflow rule):
            # more zero-evidence gates than window slots — deferred ones
            # (locally verified, lowest portability risk, defer_reason in
            # the map) yield their slot and rotate in next round
            bucket = 3
        else:
            bucket = 0 if lg is None else (1 if g.get("stale") else 2)
        return (bucket, lg or 0, i)

    ordered = sorted(enumerate(raw), key=key)
    return {name: raw[name] for _, name in ordered}


# -- NEW round 18: storage-layout gates --------------------------------


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
    from bun_csv_spark.functions.timefmt import ns_to_seconds
    from bun_csv_spark.operators.bucketing import write_partitioned

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


def q_bucketed_join_agg(spark, sf_dir):
    """Bucketed co-located join under the oracle gate (SURVEY §2.3 ext —
    previously pytest-only): orders and lineitem are bucketed AND
    sorted by orderkey into per-process external tables (data under
    _scratch_dir so concurrent drivers cannot clobber and dead runs get
    reaped), then the merge-hinted join reads co-partitioned,
    pre-sorted buckets — ZERO exchange and ZERO sort below the join at
    every SF (law-asserted; the hint pins SMJ so a small-SF broadcast
    cannot hide the bucket path). Both inputs are thinned 97x by a
    pushed orderkey modulus so the staging write stays cheap when the
    lint/oracle sweeps construct this gate at sf10/sf100; the thinning
    is semantics-neutral (same filter in the oracle). At 100 TB this is
    the repeated fact-fact join strategy: bucket once at write time,
    skip the orderkey exchange on every later join."""
    import hashlib as _hl

    from bun_csv_spark.operators.bucketing import write_bucketed

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    base = _scratch_dir("bkt_join", sf_dir)
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
        path=base + "/orders",
    )
    write_bucketed(
        li.repartition(8, "orderkey"),
        t_li, ["orderkey"], n_buckets=8, sort_cols=["orderkey"],
        path=base + "/lineitem",
    )
    j = spark.table(t_o).hint("merge").join(spark.table(t_li), "orderkey")
    return j.groupBy((F.col("o_custkey") % 10).alias("cust_bucket")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Declaration order below is just grouping; the driver-visible order is
    # computed by _freshness_order from tools/registry_green.json.
    return _freshness_order({
        # -- NEW round 18 ---------------------------------------------------
        "partitioned_pruned_read": q_partitioned_pruned_read,
        "bucketed_join_agg": q_bucketed_join_agg,
        "csv_opts_skipempty": q_csv_opts_skipempty,
        # -- NEW round 14 ---------------------------------------------------
        "tpch_q7": q_tpch_q7,
        "tpch_q9": q_tpch_q9,
        "tpch_q15": q_tpch_q15,
        "tpch_q16": q_tpch_q16,
        "tpch_q8": q_tpch_q8,
        "tpch_q12": q_tpch_q12,
        # -- NEW round 12 ---------------------------------------------------
        "tpch_q17": q_tpch_q17,
        "tpch_q21": q_tpch_q21,
        "tpch_q2": q_tpch_q2,
        "ann_pq": q_ann_pq,
        "tpch_q19": q_tpch_q19,
        "tpch_q20": q_tpch_q20,
        "tpch_q11": q_tpch_q11,
        "tpch_q22": q_tpch_q22,
        # -- NEW round 11 ---------------------------------------------------
        "incremental_neardup": q_incremental_neardup,
        "incremental_neardup_narrow": q_incremental_neardup_narrow,
        "multimodal_video": q_multimodal_video,
        # -- NEW round 10 ---------------------------------------------------
        "streaming_kmv": q_streaming_kmv,
        "multimodal_jpeg_progressive": q_multimodal_jpeg_progressive,
        "incremental_dedup": q_incremental_dedup,
        # -- NEW round 7 ----------------------------------------------------
        "countmin_topk": q_countmin_topk,
        "cluster_split": q_cluster_split,
        "tpch_q6": q_tpch_q6,
        "tpch_q14": q_tpch_q14,
        "tpch_q4": q_tpch_q4,
        "tpch_q18": q_tpch_q18,
        "tpch_q10": q_tpch_q10,
        "tpch_q13": q_tpch_q13,
        "ohlc_resample": q_ohlc_resample,
        "join_size_estimate": q_join_size_estimate,
        "streaming_hll": q_streaming_hll,
        "image_dhash": q_image_dhash,
        "image_neardup": q_image_neardup,
        "audio_fingerprint": q_audio_fingerprint,
        "audio_neardup": q_audio_neardup,
        "scd2_build": q_scd2_build,
        "quantile_merge": q_quantile_merge,
        "incremental_day_pipeline": q_incremental_day_pipeline,
        "multimodal_cluster_split": q_multimodal_cluster_split,
        "corpus_overlap": q_corpus_overlap,
        "corpus_overlap_by_domain": q_corpus_overlap_by_domain,
        "hll_distinct": q_hll_distinct,
        "weighted_sample": q_weighted_sample,
        "transition_counts": q_transition_counts,
        "dup_spans": q_dup_spans,
        "dup_span_removal": q_dup_span_removal,
        "embedding_covariance": q_embedding_covariance,
        "pca_project": q_pca_project,
        "lm_score": q_lm_score,
        "weighted_sample_group": q_weighted_sample_group,
        "attribution": q_attribution,
        "quantile_sketch": q_quantile_sketch,
        "data_quality": q_data_quality,
        "hll_merge": q_hll_merge,
        "retention": q_retention,
        # -- NEW this round (no verdict yet) --------------------------------
        "neardup_pairs_bucketed": q_neardup_pairs_bucketed,
        "kmv_distinct": q_kmv_distinct,
        "rolling_range": q_rolling_range,
        "decay_weighted": q_decay_weighted,
        "anomaly_zscore": q_anomaly_zscore,
        "funnel": q_funnel,
        "simhash_pairs": q_simhash_pairs,
        "ngram_containment": q_ngram_containment,
        "quantile_normalize": q_quantile_normalize,
        "balanced_sample": q_balanced_sample,
        "curriculum_shards": q_curriculum_shards,
        "corpus_diff": q_corpus_diff,
        "temporal_split": q_temporal_split,
        "robust_scale": q_robust_scale,
        "lang_confusion": q_lang_confusion,
        "inverted_index": q_inverted_index,
        # -- code paths changed this round: dedup_apply gained the exact
        # Jaccard verification stage; token_budget re-planned to per-bucket
        # windows; the reader's encoding/BOM/greedy-trim layer was reworked
        "dedup_apply": q_dedup_apply,
        "token_budget": q_token_budget,
        "csv_roundtrip": q_csv_roundtrip,
        "csv_opts_comments": q_csv_opts_comments,
        "csv_opts_fromto": q_csv_opts_fromto,
        "csv_opts_relax": q_csv_opts_relax,
        "csv_opts_errors": q_csv_opts_errors,
        # -- last verdict is round 1 (three rounds of churn ago) ------------
        "window_topk_per_group": q_window_topk_per_group,
        "groupby_concat": q_groupby_concat,
        "agg_ungrouped": q_agg_ungrouped,
        "events_pivot": q_events_pivot,
        "rollup_agg": q_rollup_agg,
        "distinct_agg": q_distinct_agg,
        "cube_agg": q_cube_agg,
        "json_extract": q_json_extract,
        "unpivot": q_unpivot,
        "window_running_sum": q_window_running_sum,
        "coercion_pipeline": q_coercion_pipeline,
        "stats_columns": q_stats_columns,
        "unparse_lines": q_unparse_lines,
        "join_inner": q_join_inner,
        "join_left": q_join_left,
        "join_right": q_join_right,
        "join_full": q_join_full,
        "join_cross": q_join_cross,
        "select_project": q_select_project,
        "filter_numeric": q_filter_numeric,
        "filter_compound": q_filter_compound,
        "filter_string_ops": q_filter_string_ops,
        "filter_matches": q_filter_matches,
        "sort_topk": q_sort_topk,
        "limit_preview": q_limit_preview,
        "count_rows": q_count_rows,
        "distinct_values": q_distinct_values,
        "set_ops": q_set_ops,
        # -- last verdict is round 2 (oldest remaining) ---------------------
        "repetition_filter": q_repetition_filter,
        "decontamination": q_decontamination,
        "cross_corpus_dedup": q_cross_corpus_dedup,
        "corpus_mixture": q_corpus_mixture,
        "kmeans_embeddings": q_kmeans_embeddings,
        "streaming_tumbling": q_streaming_tumbling,
        "streaming_session": q_streaming_session,
        "streaming_dedup": q_streaming_dedup,
        "streaming_watermark": q_streaming_watermark,
        "stratified_sample": q_stratified_sample,
        "dedup_embedding": q_dedup_embedding,
        "bm25": q_bm25,
        "text_chunks": q_text_chunks,
        "pii_redact": q_pii_redact,
        "seq_packing": q_seq_packing,
        "streaming_stateful": q_streaming_stateful,
        # ------------------------------------------------------- top-50 line
        "tfidf": q_tfidf,
        "window_lag_lead": q_window_lag_lead,
        "window_rank_family": q_window_rank_family,
        "percentiles": q_percentiles,
        "semi_anti_join": q_semi_anti_join,
        "having_subquery": q_having_subquery,
        "string_funcs": q_string_funcs,
        "date_funcs": q_date_funcs,
        "case_bucketing": q_case_bucketing,
        "pivot_native": q_pivot_native,
        "events_sliding": q_events_sliding,
        "dynamic_typing_struct": q_dynamic_typing_struct,
        "embedding_norms": q_embedding_norms,
        "ivf_ann": q_ivf_ann,
        "top_tokens": q_top_tokens,
        "quality_filter": q_quality_filter,
        "schema_apply": q_schema_apply,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "groupby_reference_aggs": q_groupby_reference_aggs,
        # -- round-3-green ---------------------------------------------------
        "simhash": q_simhash,
        "ann_lsh": q_ann_lsh,
        "label_centroids": q_label_centroids,
        "domain_cap": q_domain_cap,
        "quality_percentile": q_quality_percentile,
        "length_histogram": q_length_histogram,
        "embedding_quantize": q_embedding_quantize,
        "char_entropy": q_char_entropy,
        "boilerplate_prefix": q_boilerplate_prefix,
        "substring_dedup": q_substring_dedup,
        "ann_quantized": q_ann_quantized,
        "streaming_join": q_streaming_join,
        "temperature_resample": q_temperature_resample,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "hash_split": q_hash_split,
        "quality_score": q_quality_score,
        "streaming_enrich": q_streaming_enrich,
        "decontamination_surgical": q_decontamination_surgical,
        "user_sequences": q_user_sequences,
        "multimodal_audio": q_multimodal_audio,
        "multimodal_frames": q_multimodal_frames,
        "edit_overlay": q_edit_overlay,
        "oversample_epochs": q_oversample_epochs,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "minhash_signatures": q_minhash_signatures,
        "neardup_pairs": q_neardup_pairs,
        "neardup_editdist": q_neardup_editdist,
        "dedup_clusters": q_dedup_clusters,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_exact": q_dedup_exact,
        "dedup_fingerprint": q_dedup_fingerprint,
        "ann_cosine_topk": q_ann_cosine_topk,
        "knn_join": q_knn_join,
        "knn_join_bucketed": q_knn_join_bucketed,
        "cdc_apply": q_cdc_apply,
        "bloom_semi": q_bloom_semi,
        "zorder_keys": q_zorder_keys,
        "incremental_agg": q_incremental_agg,
        "skew_profile": q_skew_profile,
        "text_normalize": q_text_normalize,
        "compression_ratio": q_compression_ratio,
        "interval_overlap": q_interval_overlap,
        "multimodal_pixels": q_multimodal_pixels,
        "multimodal_jpeg_pixels": q_multimodal_jpeg_pixels,
        "multimodal_jpeg_420": q_multimodal_jpeg_420,
        "multimodal_png": q_multimodal_png,
        "multimodal_gif": q_multimodal_gif,
        "multimodal_samples": q_multimodal_samples,
        "multimodal_features": q_multimodal_features,
        "multimodal_resize": q_multimodal_resize,
        "events_tumbling": q_events_tumbling,
        "events_sessionize": q_events_sessionize,
        "session_window_native": q_session_window_native,
        "skew_salted_agg": q_skew_salted_agg,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "lang_detect": q_lang_detect,
        "doc_fingerprint": q_doc_fingerprint,
    })


_LI_ORD_SQL = "(l_orderkey * 10 + l_linenumber)"

_NEARDUP_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' the end' AS text FROM documents
)
"""


def _minhash_sql(src: str, n_hashes: int = 8, k: int = 5) -> str:
    from bun_csv_spark.operators.dedup import MINHASH_P as P, minhash_params

    a_consts, b_consts = minhash_params(n_hashes)
    mins = ",\n    ".join(
        f"min((({a_consts[i]} * h) + {b_consts[i]}) % {P}) AS minhash_{i}"
        for i in range(n_hashes)
    )
    return f"""
  SELECT doc_id, {mins}
  FROM (
    SELECT doc_id,
           CAST(('0x' || substr(md5(substr(text, i, {k})), 1, 15)) AS BIGINT) % {P} AS h
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS i
      FROM {src})
  )
  GROUP BY doc_id
"""


def _simhash_sql(src: str = "documents", k: int = 4) -> str:
    """DuckDB twin of ``simhash64``: one md5 per character shingle, bits
    0-31 from hex chars 1-8, bits 32-63 from hex chars 9-16, +1/-1 votes
    per bit, majority sign packed back into a signed BIGINT (bit 63 is the
    sign bit, emitted as -2^63)."""
    return f"""
  WITH sh AS (
    SELECT doc_id, md5(substr(text, i, {k})) AS m
    FROM (SELECT doc_id, text,
                 unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS i
          FROM {src})),
  h AS (
    SELECT doc_id,
           CAST('0x' || substr(m, 1, 8) AS BIGINT) AS h1,
           CAST('0x' || substr(m, 9, 8) AS BIGINT) AS h2
    FROM sh),
  v AS (
    SELECT doc_id, b,
           sum(CASE WHEN ((CASE WHEN b < 32 THEN h1 ELSE h2 END) >> (b % 32)) & 1 = 1
                    THEN 1 ELSE -1 END) AS votes
    FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
    GROUP BY doc_id, b)
  SELECT doc_id,
         sum(CASE WHEN votes > 0 THEN
               CASE WHEN b = 63 THEN (-9223372036854775807 - 1)
                    ELSE (1::BIGINT << b) END
             ELSE 0 END)::BIGINT AS simhash
  FROM v GROUP BY doc_id
"""


def _ann_lsh_sql(
    n_planes: int = 6, dim: int = 64, seed: int = 42, k: int = 10
) -> str:
    """DuckDB twin of ``ann_lsh_topk``: the SAME md5-derived integer plane
    constants (embedding_planes) as SQL literals; bucket bit i = sign of
    round(dot, 6); query = vec_id 0's embedding."""
    from bun_csv_spark.operators.dedup import embedding_planes

    planes = embedding_planes(seed, 1, n_planes, dim)[0]

    def bucket_expr(v: str) -> str:
        bits = []
        for i in range(n_planes):
            arr = "[" + ",".join(str(p) for p in planes[i]) + "]::DOUBLE[]"
            bits.append(
                f"(CASE WHEN round(list_dot_product({v}, {arr}), 6) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(bits) + ")::BIGINT"

    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        b AS (SELECT vec_id, v, {bucket_expr('v')} AS bucket FROM e),
        qb AS (SELECT {bucket_expr('qv')} AS bucket FROM q)
        SELECT b.vec_id, round(list_cosine_similarity(b.v, q.qv), 6) AS cosine_sim
        FROM b, q, qb WHERE b.bucket = qb.bucket
        ORDER BY cosine_sim DESC, b.vec_id
        LIMIT {k}
    """


def _bands_sql(bands: int = 4, rows: int = 2) -> str:
    parts = []
    for b in range(bands):
        cols = " || '|' || ".join(
            f"minhash_{i}" for i in range(b * rows, (b + 1) * rows)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig"
        )
    return "\nUNION ALL\n".join(parts)


def _dedup_embedding_sql(
    bands: int = 4, n_planes: int = 6, dim: int = 64, seed: int = 7,
    threshold: float = 0.35, max_bucket: int = 256,
) -> str:
    """Oracle for q_dedup_embedding: the SAME integer plane constants
    (embedding_planes) emitted as SQL literals, bucket bits via
    round(list_dot_product, 6) sign — bit-for-bit the Spark bucketing."""
    from bun_csv_spark.operators.dedup import embedding_planes

    planes = embedding_planes(seed, bands, n_planes, dim)
    band_selects = []
    for b in range(bands):
        bits = []
        for i in range(n_planes):
            arr = "[" + ",".join(str(p) for p in planes[b][i]) + "]::DOUBLE[]"
            bits.append(
                f"(CASE WHEN round(list_dot_product(v, {arr}), 6) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        band_selects.append(
            f"SELECT vec_id, {b} AS band, ({' + '.join(bits)})::BIGINT AS bucket FROM e"
        )
    bands_sql = "\nUNION ALL\n".join(band_selects)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        bands AS ({bands_sql}),
        bands_c AS (
          SELECT vec_id, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM bands)
          WHERE bsz <= {max_bucket}),
        pairs AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT p.id_a, p.id_b,
               round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
        FROM pairs p
        JOIN e ea ON ea.vec_id = p.id_a
        JOIN e eb ON eb.vec_id = p.id_b
        WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {threshold}
    """


def _cdc_apply_sql() -> str:
    """Oracle for q_cdc_apply: rebuild the identical changelog from the
    customer rows, pick the latest change per key with the same
    (version desc, op) tie-break, delete/upsert via anti-join + union."""
    return """
        WITH snap AS (SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
                      FROM customer),
        changes AS (
          SELECT c_custkey, c_name, c_acctbal, 2 AS version, 'D' AS op
          FROM snap WHERE c_custkey % 10 = 0
          UNION ALL
          SELECT c_custkey, 'stale', c_acctbal, 2, 'U' FROM snap WHERE c_custkey % 10 = 1
          UNION ALL
          SELECT c_custkey, c_name || '*v3', c_acctbal, 3, 'U' FROM snap WHERE c_custkey % 10 = 1
          UNION ALL
          SELECT c_custkey + 1000000, 'new-' || c_name, c_acctbal, 2, 'U'
          FROM snap WHERE c_custkey % 10 = 2),
        latest AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey
                                         ORDER BY version DESC, op) AS rn
            FROM changes) WHERE rn = 1)
        SELECT s.c_custkey, s.c_name, s.c_acctbal FROM snap s
        WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = s.c_custkey)
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op <> 'D'
    """


def _bloom_semi_sql(k: int = 3, m_bits: int = 1 << 16, salt: str = "bloom") -> str:
    """Oracle for q_bloom_semi: replay the exact bitmap — md5 positions,
    60-bit words, bit_or — and the all-k-bits membership test."""
    wb = 60

    def pos(j, col):
        # chunk j of the single per-value digest (see _bloom_positions)
        return (
            f"(CAST('0x' || substr(md5('{salt}:' || {col}::VARCHAR), {1 + 10 * j}, 10) "
            f"AS BIGINT) % {m_bits})"
        )

    pos_build = "\nUNION ALL\n".join(
        f"SELECT {pos(j, 'c_custkey')} AS p FROM b" for j in range(k)
    )
    tests = " AND ".join(
        f"EXISTS (SELECT 1 FROM words w WHERE w.word_idx = {pos(j, 'o.o_custkey')} // {wb} "
        f"AND (w.word & (1::BIGINT << ({pos(j, 'o.o_custkey')} % {wb}))) <> 0)"
        for j in range(k)
    )
    return f"""
        WITH b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
        pos AS ({pos_build}),
        words AS (
          SELECT p // {wb} AS word_idx,
                 bit_or(1::BIGINT << (p % {wb})) AS word
          FROM pos GROUP BY 1)
        SELECT o.o_orderkey, o.o_custkey FROM orders o
        WHERE {tests}
    """


def _zorder_keys_sql(bits: int = 8) -> str:
    """Oracle for q_zorder_keys: the same clamp-quantize-interleave
    arithmetic, generated term by term (identical float op order, so
    IEEE results match bit-for-bit)."""
    qa = "floor(least(1.0, greatest(0.0, (o_custkey::DOUBLE - 0.0) / 150000.0)) * 255)::BIGINT"
    qb = "floor(least(1.0, greatest(0.0, (o_totalprice::DOUBLE - 0.0) / 600000.0)) * 255)::BIGINT"
    terms = " + ".join(
        f"((((qa >> {i}) % 2) << {2 * i}) + (((qb >> {i}) % 2) << {2 * i + 1}))"
        for i in range(bits)
    )
    return f"""
        WITH q AS (SELECT o_orderkey, {qa} AS qa, {qb} AS qb FROM orders)
        SELECT o_orderkey, ({terms})::BIGINT AS zval FROM q
    """


def _knn_join_bucketed_sql(
    n_queries: int = 5, k: int = 5, n_planes: int = 8, dim: int = 64,
    seed: int = 42,
) -> str:
    """Oracle for q_knn_join_bucketed: the SAME integer plane constants
    (embedding_planes seed=42, band 0) as SQL literals, bucket bit i =
    sign of round(list_dot_product, 6); multi-probe = xor with each
    single-bit mask (plus mask 0 for the home bucket)."""
    from bun_csv_spark.operators.dedup import embedding_planes

    planes = embedding_planes(seed, 1, n_planes, dim)[0]
    bits = []
    for i in range(n_planes):
        arr = "[" + ",".join(str(p) for p in planes[i]) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN round(list_dot_product(v, {arr}), 6) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    bucket_expr = "(" + " + ".join(bits) + ")::BIGINT"
    masks = ", ".join(["(0)"] + [f"({1 << i})" for i in range(n_planes)])
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
        probes AS (
          SELECT q.vec_id AS query_id, q.v AS qv, xor(q.bucket, m.m) AS bucket
          FROM b q, (VALUES {masks}) AS m(m)
          WHERE q.vec_id < {n_queries}),
        cand AS (
          SELECT p.query_id, c.vec_id AS neighbor_id,
                 round(list_cosine_similarity(c.v, p.qv), 6) AS cosine_sim
          FROM probes p JOIN b c ON c.bucket = p.bucket)
        SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id) AS rnk
          FROM cand)
        WHERE rnk <= {k}
    """


# mirrors the max_bucket degenerate-bucket guard of dedup._banded_pairs:
# buckets larger than the cap are dropped before pairing
_BANDS_CAPPED_SQL = """
bands_c AS (
  SELECT doc_id, band, bucket FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM bands)
  WHERE bsz <= 64
)
"""


def _stopword_sql_list(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])


def _lang_scores_sql() -> str:
    cases = []
    for lang in LANG_STOPWORDS:
        cases.append(
            f"CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN "
            f"({_stopword_sql_list(lang)})))::DOUBLE / len(t) ELSE 0.0 END AS s_{lang}"
        )
    return ",\n      ".join(cases)


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["select_project"] = "SELECT c_custkey, c_name FROM customer"

    sql["filter_numeric"] = (
        "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000"
    )

    sql["filter_compound"] = """
        SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        WHERE (c_acctbal >= 1000 AND c_mktsegment = 'BUILDING') OR c_acctbal < 0
    """

    sql["filter_string_ops"] = """
        SELECT p_partkey, p_name, p_type FROM part
        WHERE position('ECO' IN p_type) > 0
           OR p_name LIKE '%bolt' OR p_name LIKE 'red%'
    """

    sql["filter_matches"] = (
        "SELECT p_partkey, p_name FROM part "
        "WHERE regexp_matches(p_name, '^(red|blue) .*t$')"
    )

    sql["sort_topk"] = """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """

    sql["limit_preview"] = f"""
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        ORDER BY {_LI_ORD_SQL} LIMIT 50
    """

    sql["join_inner"] = """
        SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
    """

    sql["join_left"] = """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """

    sql["join_right"] = """
        SELECT o_orderkey, c_custkey, c_name
        FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """

    sql["join_full"] = """
        SELECT s_suppkey, s_name, n_nationkey, n_name
        FROM supplier FULL JOIN nation ON s_nationkey = n_nationkey
    """

    sql["join_cross"] = "SELECT r_name, n_name FROM region CROSS JOIN nation"

    sql["groupby_reference_aggs"] = f"""
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
    """

    sql["groupby_concat"] = """
        SELECT n_regionkey,
               string_agg(n_name, ', ' ORDER BY n_nationkey) AS nations,
               count(*)::BIGINT AS n_nations
        FROM nation GROUP BY n_regionkey
    """

    sql["agg_ungrouped"] = """
        SELECT count(*)::BIGINT AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty,
               round(avg(l_quantity), 4) AS mean_qty,
               round(median(l_quantity), 4) AS median_qty,
               round(stddev_pop(l_quantity), 4) AS stddev_qty,
               min(l_quantity) AS min_qty,
               max(l_quantity) AS max_qty
        FROM lineitem
    """

    sql["tpch_q1"] = """
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
    """

    sql["tpch_q3"] = """
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
    """

    sql["tpch_q5"] = """
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
    """

    sql["tpch_q6"] = """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 24
    """

    sql["tpch_q14"] = """
        SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4)
                 AS promo_revenue_pct,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
    """

    sql["tpch_q4"] = """
        SELECT o_orderpriority, count(*)::BIGINT AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """

    sql["tpch_q18"] = """
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
    """

    sql["tpch_q10"] = """
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
    """

    sql["tpch_q13"] = """
        SELECT c_count::BIGINT AS c_count, count(*)::BIGINT AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey)
        GROUP BY c_count
    """

    sql["tpch_q17"] = """
        SELECT round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     / 700.0, 2) AS avg_yearly,
               count(*)::BIGINT AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23' AND p_size < 25
          AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """

    sql["tpch_q21"] = """
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
    """

    sql["tpch_q2"] = """
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
    """

    sql["tpch_q19"] = """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_type IN ('SMALL', 'MEDIUM')
               AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_type IN ('MEDIUM', 'LARGE')
               AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#5' AND p_type IN ('ECONOMY', 'STANDARD', 'PROMO')
               AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """

    sql["tpch_q20"] = """
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
    """

    sql["tpch_q11"] = """
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
    """

    sql["tpch_q22"] = """
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
    """

    sql["tpch_q7"] = """
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
    """

    sql["tpch_q9"] = """
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
    """

    sql["tpch_q15"] = """
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
    """

    sql["tpch_q16"] = """
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
    """

    sql["tpch_q8"] = """
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
    """

    sql["tpch_q12"] = """
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
    """

    sql["ann_pq"] = """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = 3),
        cb(sub, code, cv) AS (VALUES
          (0, 0, [0.045163, 0.051693, -0.017145, -0.165156, 0.117993, -0.040475, -0.037632, -0.043981]::DOUBLE[]),
          (0, 1, [-0.059588, -0.052838, 0.028473, -0.035254, -0.073062, -0.070829, -0.090861, 0.019427]::DOUBLE[]),
          (0, 2, [-0.014589, 0.017959, -0.092627, 0.102761, -0.0862, 0.018114, 0.070217, 0.104115]::DOUBLE[]),
          (0, 3, [-0.117582, 0.00175, 0.038428, -0.000628, 0.054825, -0.004655, 0.130162, -0.041825]::DOUBLE[]),
          (0, 4, [-0.019937, -0.002708, 0.044453, -0.002515, -0.030365, -0.195111, 0.158514, 0.135553]::DOUBLE[]),
          (0, 5, [-0.007981, -0.140905, 0.119603, 0.032278, 0.093148, -0.108443, -0.098635, 0.129604]::DOUBLE[]),
          (0, 6, [-0.038788, 0.112689, 0.071369, -0.098733, -0.10773, 0.119855, 0.005533, -0.015107]::DOUBLE[]),
          (0, 7, [0.219392, 0.026907, 0.045803, -0.019973, -0.018763, -0.039156, 0.00754, 0.117037]::DOUBLE[]),
          (0, 8, [-0.091769, -0.19449, 0.038914, 0.025494, -0.01633, 0.138245, -0.147549, 0.003708]::DOUBLE[]),
          (0, 9, [0.096249, -0.133506, -0.020041, 0.008486, 0.000874, 0.117146, -0.013657, -0.066477]::DOUBLE[]),
          (0, 10, [0.087266, -0.003994, -0.188806, -0.001947, -0.0214, 0.038331, -0.000449, -0.091243]::DOUBLE[]),
          (0, 11, [-0.088048, 0.018283, -0.057008, 0.040623, 0.048264, 0.034509, -0.148572, -0.163555]::DOUBLE[]),
          (0, 12, [0.002621, 0.009807, 0.100708, 0.002968, 0.146993, 0.200018, -0.14577, -0.007396]::DOUBLE[]),
          (0, 13, [0.071935, 0.040438, 0.051902, 0.151352, 0.059319, -0.008038, -0.052857, -0.016027]::DOUBLE[]),
          (0, 14, [-0.005931, -0.035537, -0.048583, -0.083841, 0.093932, 0.027132, -0.081071, 0.134566]::DOUBLE[]),
          (0, 15, [-0.074849, 0.045565, 0.018363, 0.027941, -0.154426, -0.202306, -0.052982, -0.099566]::DOUBLE[]),
          (1, 0, [0.159174, 0.016023, -0.018135, 0.027226, -0.144035, -0.035348, -0.018012, -0.039699]::DOUBLE[]),
          (1, 1, [-0.080465, 0.097243, -0.103576, 0.110692, 0.094968, -0.085683, 0.069614, -0.043844]::DOUBLE[]),
          (1, 2, [-0.096486, -0.142131, 0.012893, 0.021726, -0.085308, 0.076833, 0.026971, 0.108589]::DOUBLE[]),
          (1, 3, [-0.091162, 0.019311, -0.064848, 0.07181, 0.0598, 0.226188, 0.002426, 0.007008]::DOUBLE[]),
          (1, 4, [-0.022211, 0.148408, 0.141847, 0.00136, -0.001299, 0.00947, 0.126388, -0.077229]::DOUBLE[]),
          (1, 5, [-0.104092, 0.056581, 0.119458, 0.095291, -0.011062, -0.043141, -0.110995, -0.01544]::DOUBLE[]),
          (1, 6, [0.055613, 0.276148, 0.108941, 0.01649, -0.041711, 0.162609, -0.060319, -0.024536]::DOUBLE[]),
          (1, 7, [-0.086627, -0.111327, 0.043084, -0.030571, -0.113693, -0.035418, 0.069326, -0.14234]::DOUBLE[]),
          (1, 8, [-0.010646, 0.083854, -0.099391, 0.059565, 0.026427, 0.010372, -0.049581, 0.160429]::DOUBLE[]),
          (1, 9, [-0.063136, 0.063525, -0.039907, -0.076115, -0.143704, -0.004289, -0.119117, -0.030429]::DOUBLE[]),
          (1, 10, [0.041558, -0.072501, -0.042476, -0.080439, 0.04957, -0.126468, 0.00506, -0.015189]::DOUBLE[]),
          (1, 11, [0.040028, 0.038315, 0.09236, -0.118322, 0.093721, 0.058519, -0.094338, 0.040048]::DOUBLE[]),
          (1, 12, [0.085265, -0.079446, 0.042481, 0.032569, 0.06338, 0.053649, 0.101263, 0.093984]::DOUBLE[]),
          (1, 13, [-0.019046, -0.049919, 0.171414, -0.120922, 0.041702, -0.212304, -0.048005, 0.054231]::DOUBLE[]),
          (1, 14, [0.108785, 0.144023, -0.062737, -0.016277, 0.099098, -0.088644, 0.201485, -0.027838]::DOUBLE[]),
          (1, 15, [-0.032899, -0.158769, -0.040219, 0.025979, -0.009335, 0.078809, -0.074704, -0.149574]::DOUBLE[]),
          (2, 0, [0.020152, 0.054868, -0.030259, 0.112194, -0.1521, -0.053761, 0.045582, -0.107816]::DOUBLE[]),
          (2, 1, [-0.024136, 0.01116, 0.067419, -0.15294, 0.055658, 0.170845, 0.074393, -0.086117]::DOUBLE[]),
          (2, 2, [-0.183612, 0.016776, -0.095358, -0.210844, 0.186597, 0.044497, 0.218238, -0.073167]::DOUBLE[]),
          (2, 3, [0.019165, -0.055185, -0.058031, 0.103562, 0.067296, -0.011294, -0.04262, 0.01133]::DOUBLE[]),
          (2, 4, [0.036857, 0.187713, 0.006315, -0.039389, 0.010322, 0.066266, -0.064075, 0.005672]::DOUBLE[]),
          (2, 5, [0.21364, -0.049521, -0.025173, 0.037674, -0.06337, -0.127776, 0.07022, 0.189365]::DOUBLE[]),
          (2, 6, [-0.036816, 0.160054, -0.101022, -0.076051, 0.044669, -0.132386, -0.0199, -0.039474]::DOUBLE[]),
          (2, 7, [0.068608, 0.027188, -0.118364, 0.076303, -0.031036, 0.097779, 0.085295, -0.015428]::DOUBLE[]),
          (2, 8, [0.067561, -0.040104, 0.138206, 0.031813, 0.082701, -0.046219, 0.096423, -0.034658]::DOUBLE[]),
          (2, 9, [0.002231, 0.080627, 0.06133, -0.108895, -7.4e-05, 0.02273, 0.115234, 0.235671]::DOUBLE[]),
          (2, 10, [0.012381, 0.090323, 0.082384, -0.080549, -0.148108, 0.051593, 0.015967, -0.000604]::DOUBLE[]),
          (2, 11, [0.147801, 0.003498, -0.02974, -0.105028, -0.05651, -0.106066, 0.110341, -0.071939]::DOUBLE[]),
          (2, 12, [-0.067414, -0.129424, -0.098109, -0.074061, -0.034833, 0.07488, 0.001106, -0.010086]::DOUBLE[]),
          (2, 13, [0.03844, 0.053944, 0.078227, -0.046232, 0.138396, 0.003353, -0.012852, -0.246033]::DOUBLE[]),
          (2, 14, [0.014574, -0.074672, 0.098713, 0.007734, 0.014693, -0.063645, -0.128717, 0.085714]::DOUBLE[]),
          (2, 15, [-0.164269, 0.045705, 0.040084, 0.050452, -0.030679, -0.062406, -0.004266, -0.014364]::DOUBLE[]),
          (3, 0, [0.032555, 0.182784, 0.134476, 0.009743, 0.022164, 0.076943, -0.004346, 0.183094]::DOUBLE[]),
          (3, 1, [0.096414, 0.086441, -0.08791, -0.014928, -0.005973, 0.171653, -0.088402, 0.057738]::DOUBLE[]),
          (3, 2, [-0.012511, -0.064251, -0.058717, -0.058097, 0.031628, 0.105536, -0.057279, -0.118697]::DOUBLE[]),
          (3, 3, [-0.072934, -0.023083, 0.017204, -0.116403, -0.132828, -0.051052, -0.064267, 0.025659]::DOUBLE[]),
          (3, 4, [-0.005932, -0.089646, 0.157687, -0.048732, 0.086637, 0.009898, 0.114181, 0.032673]::DOUBLE[]),
          (3, 5, [0.152332, 0.06472, -0.005011, -0.058964, 0.063525, 0.07364, 0.094475, -0.111147]::DOUBLE[]),
          (3, 6, [-0.050013, -0.120467, 0.022126, 0.100977, 0.051807, -0.006545, 0.023295, -0.052052]::DOUBLE[]),
          (3, 7, [0.042875, -0.082864, -0.105796, 0.036477, -0.043575, 0.081172, 0.136989, 0.10891]::DOUBLE[]),
          (3, 8, [-0.099546, 0.15767, -0.026785, 0.064883, 0.045162, -0.296227, 0.016597, -0.072797]::DOUBLE[]),
          (3, 9, [-0.02627, -0.049602, -0.093513, 0.069501, -0.07468, -0.119671, 0.030189, -0.144782]::DOUBLE[]),
          (3, 10, [0.08728, 0.105804, -0.133454, 0.164228, -0.088224, 0.02088, -0.110751, -0.020635]::DOUBLE[]),
          (3, 11, [0.095821, 0.095403, 0.06197, 0.046098, -0.106678, -0.010978, -0.037742, 0.03565]::DOUBLE[]),
          (3, 12, [-0.058536, 0.229083, -0.070495, 0.034683, 0.005713, -0.081875, 0.092452, -0.106902]::DOUBLE[]),
          (3, 13, [0.04226, -0.004416, 0.044282, 0.022239, 0.083869, -0.11788, -0.065276, 0.066689]::DOUBLE[]),
          (3, 14, [-0.169424, 0.057267, -0.032484, -0.012767, 0.052087, 0.084848, -0.063872, 0.046164]::DOUBLE[]),
          (3, 15, [-0.047828, 0.034079, 0.000612, 0.013166, -0.125595, -0.055979, 0.160684, -0.045907]::DOUBLE[]),
          (4, 0, [-0.161225, -0.167822, -0.007776, 0.069895, -0.014678, -0.013155, 0.007091, 0.04567]::DOUBLE[]),
          (4, 1, [0.003445, -0.066469, -0.051948, 0.067878, -0.062483, -0.074901, 0.063553, -0.161744]::DOUBLE[]),
          (4, 2, [0.029718, -0.018823, -0.092877, 0.115999, 0.077186, 0.080044, 0.078697, 0.037481]::DOUBLE[]),
          (4, 3, [0.182234, 0.00629, -0.05919, -0.050966, 0.016103, -0.054181, 0.030629, -0.085635]::DOUBLE[]),
          (4, 4, [-0.12072, 0.020704, 0.000729, -0.095137, -0.087541, 0.038687, -0.059715, -0.076825]::DOUBLE[]),
          (4, 5, [-0.012578, -0.037984, -0.002184, 0.119769, -0.014946, 0.082395, -0.138403, 0.007366]::DOUBLE[]),
          (4, 6, [-0.120031, -0.104255, -0.065619, 0.025945, 0.195671, 0.115973, -0.001223, 0.071403]::DOUBLE[]),
          (4, 7, [-0.049221, -0.058693, -0.04563, -0.029617, -0.044145, -0.142837, 0.052339, 0.136573]::DOUBLE[]),
          (4, 8, [-0.020069, -0.035258, 0.11974, -0.037674, 0.068428, -0.003577, 0.117817, -0.045307]::DOUBLE[]),
          (4, 9, [-0.048838, -0.017536, 0.143576, 0.09334, -0.278038, -0.071572, 0.126046, 0.043009]::DOUBLE[]),
          (4, 10, [0.159866, -0.111121, 0.062086, 0.011501, 0.07922, 0.033423, -0.000879, 0.075377]::DOUBLE[]),
          (4, 11, [0.049678, -0.081506, -0.030034, -0.072662, 0.036142, -0.089224, -0.140467, 0.045558]::DOUBLE[]),
          (4, 12, [-0.017756, 0.112808, -0.033387, -0.058803, -0.060619, 0.044396, -0.024261, 0.153251]::DOUBLE[]),
          (4, 13, [0.096602, 0.106157, 0.074175, 0.017079, -0.026523, 0.141063, 0.027943, -0.008675]::DOUBLE[]),
          (4, 14, [0.046795, 0.171599, 0.036238, 0.02457, 0.084945, -0.137463, -0.0848, -0.044704]::DOUBLE[]),
          (4, 15, [0.076088, 0.021766, 0.055662, -0.155782, -0.109716, -0.136248, 0.103875, -0.02687]::DOUBLE[]),
          (5, 0, [-0.000824, 0.02298, -0.07459, 0.030158, -0.001476, 0.139994, 0.062582, -0.089074]::DOUBLE[]),
          (5, 1, [0.029836, -0.073495, 0.169243, 0.023932, 0.060351, 0.026953, -0.01903, -0.147164]::DOUBLE[]),
          (5, 2, [-0.031194, 0.021616, 0.140947, 0.025861, -0.148506, 0.058349, -0.078641, -0.053856]::DOUBLE[]),
          (5, 3, [-0.070792, -0.107026, -0.121588, 0.06026, 0.061068, 0.050287, -0.081153, -0.035201]::DOUBLE[]),
          (5, 4, [0.000624, 0.001753, -0.172587, -0.063322, 0.006796, 0.040948, -0.125527, 0.145937]::DOUBLE[]),
          (5, 5, [-0.096016, 0.092529, -0.115732, 0.031205, -0.14134, -0.051171, 0.061154, 0.003835]::DOUBLE[]),
          (5, 6, [0.132987, -0.083187, -0.017599, -0.1002, 0.023577, 0.057959, 0.071621, 0.091602]::DOUBLE[]),
          (5, 7, [-0.088208, -0.103605, 0.033909, 0.070717, -0.011394, 0.047475, 0.014107, 0.130707]::DOUBLE[]),
          (5, 8, [-0.039571, -0.084956, -0.054349, 0.018068, 0.078742, -0.105997, 0.089216, -0.073392]::DOUBLE[]),
          (5, 9, [0.127289, 0.035675, 0.092555, 0.108045, -0.125378, 0.015832, 0.053367, -0.067189]::DOUBLE[]),
          (5, 10, [-0.04042, -0.217913, -0.062856, -0.09502, -0.071568, -0.046224, -0.001162, -0.102987]::DOUBLE[]),
          (5, 11, [0.101268, 0.007234, -0.005995, -0.1192, 0.047311, -0.059734, -0.124169, -0.014646]::DOUBLE[]),
          (5, 12, [0.066615, 0.04387, -0.045768, 0.142651, 0.035283, -0.046501, -0.048098, 0.073965]::DOUBLE[]),
          (5, 13, [-0.072903, -0.029299, -0.030606, -0.160536, -0.163619, 0.035228, -0.091768, 0.031453]::DOUBLE[]),
          (5, 14, [0.000791, 0.085871, 0.089998, -0.073091, -0.033261, -0.179057, 0.074376, 0.029624]::DOUBLE[]),
          (5, 15, [-0.075826, 0.170278, 0.027134, -0.066076, 0.071276, -0.026979, 0.020049, 0.062923]::DOUBLE[]),
          (6, 0, [0.043428, -0.136518, -0.021342, 0.146104, 0.071554, -0.093973, 0.056246, -0.018839]::DOUBLE[]),
          (6, 1, [-0.033879, -0.19113, 0.032392, 0.001865, 0.000762, 0.102411, 0.005148, 0.124993]::DOUBLE[]),
          (6, 2, [0.08776, -0.00449, 0.116994, -0.087882, -0.008073, -0.088383, 0.10952, 0.193123]::DOUBLE[]),
          (6, 3, [0.262816, -0.208525, 0.003365, -0.053756, 0.005514, 0.103206, -0.091905, 0.010293]::DOUBLE[]),
          (6, 4, [-0.053924, -0.030688, 0.043328, 0.047928, 0.031028, 0.124371, 0.094308, -0.021284]::DOUBLE[]),
          (6, 5, [0.0232, -0.00202, 0.126017, 0.03536, -0.021745, 0.067423, -0.134732, -0.17931]::DOUBLE[]),
          (6, 6, [0.025606, 0.006466, -0.115925, 0.102496, -0.00658, -0.02273, -0.040371, 0.137985]::DOUBLE[]),
          (6, 7, [-0.030302, -0.014929, 0.138228, 0.055226, 0.028182, -0.080503, -0.07582, 0.101245]::DOUBLE[]),
          (6, 8, [-0.145345, -0.004361, 0.008597, 0.053478, -0.129425, 0.097943, -0.07793, -0.129485]::DOUBLE[]),
          (6, 9, [0.0548, -0.05473, 0.041289, -0.127844, -0.115814, 0.027329, -0.002108, 0.032424]::DOUBLE[]),
          (6, 10, [0.077303, 0.116641, 0.071986, -0.041751, 0.116438, -0.011894, 0.008827, -0.01782]::DOUBLE[]),
          (6, 11, [0.108165, 0.070555, -0.119275, -0.123674, -0.001853, 0.055286, 0.068419, -0.015543]::DOUBLE[]),
          (6, 12, [-0.142502, 0.065165, -0.017106, -0.02458, 0.155214, -0.002678, -0.072204, -0.024003]::DOUBLE[]),
          (6, 13, [-0.136899, -0.095238, -0.091288, -0.043934, -0.044853, -0.045886, -0.024023, -0.006638]::DOUBLE[]),
          (6, 14, [-0.061295, 0.031828, 0.05412, 0.055468, -0.003928, -0.118577, 0.099903, -0.009236]::DOUBLE[]),
          (6, 15, [0.047019, 0.048797, -0.046222, -0.040536, -0.064304, -0.118802, -0.025678, -0.155739]::DOUBLE[]),
          (7, 0, [-0.03784, -0.095765, -0.118162, -0.077438, -0.073108, -0.023202, 0.085988, -0.179284]::DOUBLE[]),
          (7, 1, [0.038913, -0.075468, -0.00628, 0.099357, -0.098391, 0.048393, -0.089241, -0.069139]::DOUBLE[]),
          (7, 2, [0.058743, -0.101224, -0.003425, 0.103186, 0.032882, 0.151173, 0.07216, 0.006067]::DOUBLE[]),
          (7, 3, [-0.082874, -0.061943, -0.0285, -0.10563, 0.10328, -0.055198, -0.026043, -0.081326]::DOUBLE[]),
          (7, 4, [0.09992, -0.14632, -0.024953, -0.06227, -0.024341, -0.002627, 0.088512, 0.098668]::DOUBLE[]),
          (7, 5, [-0.085347, 0.039583, 0.001187, 0.012129, -0.134985, 0.054315, -0.017482, 0.108326]::DOUBLE[]),
          (7, 6, [-0.101628, 0.073497, -0.005646, 0.017394, 0.065937, 0.024527, 0.156258, 0.003863]::DOUBLE[]),
          (7, 7, [0.019712, 0.118951, -0.186699, -0.087358, 0.059502, 0.047948, -0.060181, -0.094821]::DOUBLE[]),
          (7, 8, [-0.065036, 0.073705, 0.081782, -0.128962, -0.083681, -0.091883, 0.027408, 0.018581]::DOUBLE[]),
          (7, 9, [0.046691, 0.002166, 0.033073, -0.128386, 0.012302, 0.10283, 0.003626, -0.009243]::DOUBLE[]),
          (7, 10, [0.138735, 0.063432, 0.023642, 0.033912, 0.116973, -0.118567, -0.052916, 0.058183]::DOUBLE[]),
          (7, 11, [-0.029716, 0.107597, -0.104344, 0.016429, 0.14113, 0.026389, -0.059245, 0.184372]::DOUBLE[]),
          (7, 12, [0.016333, -0.105773, 0.148305, -0.008466, 0.125301, 0.058899, -0.131053, -0.084354]::DOUBLE[]),
          (7, 13, [-0.130458, 0.040737, 0.029273, 0.140264, 0.055548, -0.00754, -0.135649, -0.007175]::DOUBLE[]),
          (7, 14, [-0.007096, 0.011957, -0.184939, 0.097762, -0.009725, -0.097906, 0.083208, 0.004459]::DOUBLE[]),
          (7, 15, [0.06872, 0.068574, 0.108717, 0.067779, -0.087243, -0.034892, -0.048132, -0.103556]::DOUBLE[])),
        coarse(cid, cv) AS (VALUES
          (0, [0.021933, -0.001037, 0.013345, -0.033496, 0.027499, -0.003346, -0.022352, 0.004196, 0.046226, -0.003135, 0.016345, -0.017812, -0.024263, -0.018513, -0.010161, -0.002877, 0.010921, 0.019493, 0.011042, 0.036423, -0.044163, -0.014547, 0.011965, -0.025447, -0.023597, 0.037825, 0.018171, 0.01741, 0.005276, 0.021406, 0.021127, 0.048025, -0.012726, -0.023847, 0.019151, -0.005393, -0.020975, 0.007919, -0.009024, 0.025321, 0.006062, -0.004184, -0.003176, -8.5e-05, -0.007594, 0.026398, 0.0229, 0.003842, -0.019782, 0.000392, -0.007415, 0.026475, 0.019039, -0.036693, 0.021726, -0.006831, 0.002645, 0.00746, -0.040996, -0.034477, -0.014392, 0.003549, 0.010083, -0.040663]::DOUBLE[]),
          (1, [-0.025136, -0.020336, 0.015826, -0.003518, -0.009237, 0.011969, -0.050855, 0.020489, -0.019358, 0.038429, -0.014827, 0.019563, 0.040506, -0.047926, 0.017611, -0.007927, 0.014973, -0.007443, 0.013789, -0.028073, 0.01055, 0.037853, -0.00379, -0.019158, 0.022301, 0.037117, -0.014703, 0.027288, -0.000924, 0.01654, -0.009615, 0.001739, -0.016546, -0.005482, 0.008024, 0.009654, -0.027045, -0.039757, 0.004805, -0.052073, -0.010328, -0.026634, 0.032565, 0.004389, 0.001318, -0.008574, -0.016338, 0.001703, -0.060444, -0.043393, 0.009326, 0.005486, -0.001843, 0.031069, -0.003813, 0.010774, 0.010146, -0.009389, 0.01271, 0.01601, -0.03019, 0.002699, -0.031239, -0.019703]::DOUBLE[]),
          (2, [0.025586, 0.000117, -0.018787, 0.021, 0.011351, 0.017209, -0.013097, 0.011097, -0.009938, -0.058347, 0.014613, -0.011928, -0.039754, 0.01617, -0.008271, 0.019563, -0.012685, 0.026526, -0.02489, -0.034083, 0.010488, 0.006921, 0.031428, -0.002224, 0.005069, -0.0358, -0.023119, 0.009753, 0.020926, 0.004468, 0.004977, -0.05434, 5.2e-05, -0.003382, -0.001287, 0.006697, 0.00535, 0.036149, 0.019075, 0.034642, 0.006627, -0.00032, 0.032194, 0.000133, -0.03894, 0.0069, 0.007654, 0.018935, 0.02168, 0.028249, 0.032083, -0.01724, 0.002909, -0.02078, 0.028306, 0.012597, 0.016665, -0.020145, 0.002245, 0.023937, 0.028779, 0.016693, 0.018939, 0.036149]::DOUBLE[]),
          (3, [-0.018136, 0.001886, 0.006297, -0.001975, 0.007692, 0.005875, 0.012369, 0.001834, -0.031528, 0.025939, 0.007387, 0.027237, 0.018897, 0.057939, 0.002072, 0.014393, 0.000818, -0.018435, -0.000842, 0.028536, 0.011297, -0.018478, -0.025769, 0.015583, -0.008845, 0.013628, 0.012291, -0.012009, -0.03198, -0.042672, 0.003929, -0.020473, 0.064375, 0.007534, -0.006133, -0.005683, 0.021455, -0.015387, -0.019058, -0.019128, -0.010948, -0.018208, -0.061025, -0.00662, 0.000982, -0.012245, -0.020004, -0.001717, 0.041582, -0.031003, 0.003678, -0.022149, 0.009861, 0.016255, -0.03091, -0.031121, -0.010758, 0.012148, 0.010359, -0.039142, 0.013167, -0.003628, -0.005858, -0.029611]::DOUBLE[])),
        cells AS (
          SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
                 (max(struct_pack(
                    s := round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                      c.cv), 6),
                    c := c.cid))).c AS cell
          FROM embeddings e, coarse c
          GROUP BY e.vec_id, e.embedding),
        probes AS (
          SELECT cid FROM (
            SELECT c.cid, row_number() OVER (
              ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                       c.cid DESC) AS rn
            FROM coarse c, q) WHERE rn <= 2),
        enc AS (
          SELECT s.vec_id, s.v, b.sub,
                 (min(struct_pack(
                    d := CAST(round(list_sum(list_transform(
                           generate_series(1, 8),
                           i -> (s.v[b.sub * 8 + i] - b.cv[i])
                              * (s.v[b.sub * 8 + i] - b.cv[i])))
                         * 1000000, 0) AS BIGINT),
                    c := b.code))).c AS code
          FROM (SELECT vec_id, v FROM cells
                WHERE cell IN (SELECT cid FROM probes)) s, cb b
          GROUP BY s.vec_id, s.v, b.sub),
        adc AS (
          SELECT e.vec_id, e.v,
                 sum(CAST(round(list_sum(list_transform(
                       generate_series(1, 8),
                       i -> (q.qv[b.sub * 8 + i] - b.cv[i])
                          * (q.qv[b.sub * 8 + i] - b.cv[i])))
                     * 1000000, 0) AS BIGINT))::BIGINT AS d
          FROM enc e JOIN cb b ON b.sub = e.sub AND b.code = e.code, q
          GROUP BY e.vec_id, e.v),
        cand AS (SELECT vec_id, v FROM adc ORDER BY d ASC, vec_id LIMIT 50)
        SELECT c.vec_id,
               round(list_cosine_similarity(c.v, q.qv), 6) AS cosine_sim
        FROM cand c, q
        ORDER BY cosine_sim DESC, c.vec_id
        LIMIT 10
    """

    sql["countmin_topk"] = """
        WITH sketch AS (
          SELECT row, col, count(*)::BIGINT AS cnt FROM (
            SELECT t.j AS row,
                   CAST('0x' || substr(md5('cm' || t.j::VARCHAR || ':'
                                           || user_id::VARCHAR), 1, 15)
                        AS BIGINT) % 512 AS col
            FROM events, (VALUES (0), (1), (2), (3)) AS t(j))
          GROUP BY 1, 2),
        est AS (
          SELECT d.user_id, min(s.cnt) AS est_count
          FROM (SELECT DISTINCT user_id FROM events) d
          CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(j)
          JOIN sketch s
            ON s.row = t.j
           AND s.col = CAST('0x' || substr(md5('cm' || t.j::VARCHAR || ':'
                                               || d.user_id::VARCHAR), 1, 15)
                            AS BIGINT) % 512
          GROUP BY 1),
        exact AS (
          SELECT user_id, count(*)::BIGINT AS exact_count FROM events GROUP BY 1)
        SELECT e.user_id, x.exact_count, e.est_count
        FROM est e JOIN exact x USING (user_id)
        ORDER BY e.est_count DESC, e.user_id LIMIT 20
    """

    sql["quantile_merge"] = """
        WITH hist AS (
          SELECT event_type,
                 least(greatest(CAST(floor(value::DOUBLE / 5.0) AS BIGINT),
                                0), 119) AS bin,
                 count(*)::BIGINT AS cnt
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2),
        cum AS (
          SELECT event_type, bin, cnt,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cumc,
                 sum(cnt) OVER (PARTITION BY event_type) AS n
          FROM hist),
        wq AS (
          SELECT event_type, bin, cnt, cumc, n, q
          FROM cum, UNNEST([0.5, 0.9, 0.99]) AS t(q)),
        cand AS (
          SELECT event_type, q, bin,
                 round(0.0 + (bin + least(greatest(
                         (q * (n - 1) + 1 - (cumc - cnt)) / cnt, 0.0), 1.0))
                       * 5.0, 6) AS est
          FROM wq WHERE cumc >= q * (n - 1) + 1)
        SELECT event_type, q, min_by(est, bin) AS est
        FROM cand GROUP BY event_type, q
    """

    sql["scd2_build"] = """
        SELECT user_id, event_type, value,
               epoch_ns(ts) AS eff_from,
               lead(epoch_ns(ts)) OVER w AS eff_to,
               row_number() OVER w AS version,
               (lead(epoch_ns(ts)) OVER w IS NULL) AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
    """

    sql["ohlc_resample"] = """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, printf('%020d|%020d', epoch_ns(ts), event_id)) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, printf('%020d|%020d', epoch_ns(ts), event_id)) AS close,
               count(*)::BIGINT AS n_events
        FROM events GROUP BY 1, 2
    """

    sql["join_size_estimate"] = """
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
    """

    sql["count_rows"] = "SELECT count(*)::BIGINT AS n FROM lineitem"

    sql["distinct_values"] = "SELECT DISTINCT c_mktsegment FROM customer"

    sql["set_ops"] = """
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
    """

    # The oracle asserts the expected COERCION RESULTS (independent of our
    # parser implementation).
    sql["coercion_pipeline"] = """
        SELECT c_custkey,
               CASE WHEN c_custkey % 2 = 0 THEN c_custkey::DOUBLE
                    ELSE -(c_custkey::DOUBLE) END AS parsed_currency,
               (c_custkey % 200) / 100.0 AS parsed_percent,
               c_custkey % 4 IN (0, 1) AS parsed_bool,
               (1000 + (c_custkey % 1000))::BIGINT AS parsed_int
        FROM customer
    """

    sql["stats_columns"] = """
        SELECT 'c_custkey' AS "column", count(*)::BIGINT AS count,
               (count(*) - count(c_custkey))::BIGINT AS null_count,
               count(DISTINCT c_custkey)::BIGINT AS unique_count,
               round(min(c_custkey)::DOUBLE, 4) AS min_num,
               round(max(c_custkey)::DOUBLE, 4) AS max_num,
               round(avg(c_custkey), 4) AS mean_num,
               'number' AS inferred_type
        FROM customer
        UNION ALL
        SELECT 'c_name', count(*)::BIGINT,
               (count(*) - count(c_name))::BIGINT,
               count(DISTINCT c_name)::BIGINT,
               NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, 'string'
        FROM customer
        UNION ALL
        SELECT 'c_acctbal', count(*)::BIGINT,
               (count(*) - count(c_acctbal))::BIGINT,
               count(DISTINCT c_acctbal)::BIGINT,
               round(min(c_acctbal), 4), round(max(c_acctbal), 4),
               round(avg(c_acctbal), 4), 'number'
        FROM customer
        UNION ALL
        SELECT 'c_mktsegment', count(*)::BIGINT,
               (count(*) - count(c_mktsegment))::BIGINT,
               count(DISTINCT c_mktsegment)::BIGINT,
               NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
               CASE WHEN count(DISTINCT c_mktsegment) <= 10 AND count(*) > 100
                    THEN 'categorical' ELSE 'string' END
        FROM customer
    """

    sql["unparse_lines"] = (
        "SELECT n_nationkey::VARCHAR || ',' || n_name AS line FROM nation"
    )

    sql["window_topk_per_group"] = """
        SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders)
        WHERE rnk <= 2
    """

    sql["events_tumbling"] = """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*)::BIGINT AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """

    sql["events_sessionize"] = """
        WITH flags AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                           > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events),
        sess AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
          FROM flags)
        SELECT user_id, session_id::BIGINT AS session_id,
               count(*)::BIGINT AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM sess GROUP BY user_id, session_id
    """

    sql["session_window_native"] = """
        WITH flags AS (
          SELECT user_id, ts, value,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                           >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events),
        sess AS (
          SELECT user_id, ts, value,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
          FROM flags)
        SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               user_id,
               count(*)::BIGINT AS n_events,
               round(sum(value), 2) AS sum_value
        FROM sess GROUP BY user_id, session_id
    """

    sql["skew_salted_agg"] = """
        SELECT l_returnflag, count(*)::BIGINT AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY l_returnflag
    """

    sql["events_pivot"] = """
        SELECT (user_id % 10)::BIGINT AS bucket,
               count(*) FILTER (WHERE event_type = 'click')::BIGINT AS n_click,
               count(*) FILTER (WHERE event_type = 'view')::BIGINT AS n_view,
               count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS n_signup,
               count(*) FILTER (WHERE event_type = 'error')::BIGINT AS n_error,
               count(*)::BIGINT AS n_total
        FROM events GROUP BY 1
    """

    sql["rollup_agg"] = """
        SELECT l_returnflag, l_linestatus,
               count(*)::BIGINT AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

    sql["distinct_agg"] = """
        SELECT c_mktsegment,
               count(DISTINCT o_custkey)::BIGINT AS n_customers,
               count(DISTINCT o_orderpriority)::BIGINT AS n_priorities,
               count(*)::BIGINT AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """

    sql["cube_agg"] = """
        SELECT l_returnflag, l_linestatus,
               count(*)::BIGINT AS n_rows,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """

    sql["json_extract"] = """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               json_extract_string(props, '$.k')::BIGINT AS k_num
        FROM events
    """

    sql["unpivot"] = """
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
    """

    sql["dedup_exact"] = (
        "SELECT min(doc_id)::BIGINT AS doc_id, text FROM documents GROUP BY text"
    )

    sql["dedup_fingerprint"] = r"""
        SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
               min(doc_id)::BIGINT AS keep_id,
               count(*)::BIGINT AS n_dups
        FROM documents GROUP BY 1
    """

    sql["text_quality"] = r"""
        WITH toks AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS t
          FROM documents)
        SELECT doc_id,
               length(text)::BIGINT AS n_chars_calc,
               len(t)::BIGINT AS n_tokens,
               CASE WHEN len(t) > 0 THEN
                 round(list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t), 4)
               ELSE 0.0 END AS mean_token_len,
               CASE WHEN length(text) > 0 THEN
                 round(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
                       / length(text), 4)
               ELSE 0.0 END AS punct_ratio,
               CASE WHEN length(text) > 0 THEN
                 round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                       / length(text), 4)
               ELSE 0.0 END AS digit_ratio,
               CASE WHEN len(t) > 0 THEN
                 round(len(list_filter(t, x -> lower(x) IN
                   (""" + _stopword_sql_list("en") + r""")))::DOUBLE / len(t), 4)
               ELSE 0.0 END AS stopword_ratio_en
        FROM toks
    """

    sql["token_counts"] = r"""
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_pieces
        FROM documents
    """

    sql["lang_detect"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '') AS t
          FROM documents),
        sc AS (
          SELECT doc_id,
      """ + _lang_scores_sql() + r"""
          FROM toks),
        u AS (
          SELECT doc_id, 'en' AS lang, s_en AS score FROM sc
          UNION ALL SELECT doc_id, 'de', s_de FROM sc
          UNION ALL SELECT doc_id, 'fr', s_fr FROM sc
          UNION ALL SELECT doc_id, 'es', s_es FROM sc)
        SELECT doc_id,
               CASE WHEN max(score) > 0
                    THEN (max(struct_pack(s := score, l := lang))).l
                    ELSE 'und' END AS lang_pred
        FROM u GROUP BY doc_id
    """

    sql["doc_fingerprint"] = r"""
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM documents
    """

    sql["minhash_signatures"] = (
        "WITH sig AS (" + _minhash_sql("documents") + ") SELECT * FROM sig"
    )

    sql["simhash"] = _simhash_sql("documents")

    sql["ann_lsh"] = _ann_lsh_sql()

    sql["domain_cap"] = """
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM documents)
        WHERE rn <= 15
    """

    sql["quality_percentile"] = r"""
        WITH s AS (
          SELECT doc_id,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> ''))::DOUBLE AS sc
          FROM documents),
        t AS (SELECT quantile_cont(sc, 0.75) AS thr FROM s)
        SELECT doc_id, sc::BIGINT AS n_tokens FROM s, t WHERE sc >= thr
    """

    sql["length_histogram"] = r"""
        WITH per AS (
          SELECT len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '')) AS n
          FROM documents),
        hist AS (
          SELECT (n - n % 10)::BIGINT AS bucket_lo,
                 count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS total_tokens
          FROM per GROUP BY 1),
        tot AS (SELECT sum(n_docs) AS nd, sum(total_tokens) AS nt FROM hist)
        SELECT bucket_lo, n_docs, total_tokens,
               round(n_docs / nd, 6) AS doc_share,
               round(total_tokens / nt, 6) AS token_share
        FROM hist, tot
    """

    sql["embedding_quantize"] = """
        WITH e AS (
          SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                 unnest(generate_series(1, len(embedding))) AS pos
          FROM embeddings),
        b AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM e GROUP BY pos)
        SELECT e.vec_id, (e.pos - 1)::BIGINT AS pos,
               (CASE WHEN b.mx = b.mn THEN 0
                     ELSE floor((e.x - b.mn) * 255 / (b.mx - b.mn) + 0.5)
                END)::BIGINT AS q
        FROM e JOIN b USING (pos)
    """

    sql["char_entropy"] = """
        WITH ch AS (
          SELECT doc_id, substr(text, i, 1) AS c
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1, greatest(length(text), 1))) AS i
                FROM documents)),
        cnt AS (SELECT doc_id, c, count(*)::DOUBLE AS k FROM ch GROUP BY doc_id, c),
        n AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY doc_id)
        SELECT cnt.doc_id,
               round(-sum((k / n.n) * log2(k / n.n)), 6) AS entropy
        FROM cnt JOIN n USING (doc_id) GROUP BY cnt.doc_id
    """

    sql["boilerplate_prefix"] = (
        "WITH " + _NEARDUP_CORPUS_SQL + """
        SELECT md5(substr(text, 1, 64)) AS prefix_fp,
               count(*)::BIGINT AS n_docs, min(doc_id)::BIGINT AS keep_id
        FROM corpus GROUP BY 1 HAVING count(*) >= 2
    """
    )

    sql["quality_score"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS t
          FROM documents),
        m AS (
          SELECT doc_id,
                 len(t)::DOUBLE AS n_tokens,
                 CASE WHEN len(t) > 0 THEN
                   list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)
                 ELSE 0.0 END AS mtl,
                 CASE WHEN len(t) > 0 THEN
                   len(list_filter(t, x -> lower(x) IN
                     (""" + _stopword_sql_list("en") + r""")))::DOUBLE / len(t)
                 ELSE 0.0 END AS swr
          FROM toks)
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(-1.0 + n_tokens * 0.02
                                        + mtl * 0.3 + swr * 1.5))), 6)
                 AS quality_score
        FROM m
    """

    sql["token_budget"] = r"""
        WITH t AS (
          SELECT doc_id,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> ''))::BIGINT AS n_tok,
                 md5('budget:' || doc_id::VARCHAR) AS u
          FROM documents),
        b AS (
          SELECT doc_id, n_tok, u,
                 CAST('0x' || substr(u, 1, 2) AS BIGINT) % 32 AS bkt
          FROM t),
        c AS (
          SELECT doc_id, n_tok, bkt,
                 sum(n_tok) OVER (PARTITION BY bkt
                                  ORDER BY u ROWS UNBOUNDED PRECEDING) AS cum
          FROM b)
        SELECT doc_id, n_tok::BIGINT AS n_tokens
        FROM c
        WHERE cum <= 15000 // 32 + CASE WHEN bkt < 15000 % 32 THEN 1 ELSE 0 END
    """

    sql["hash_split"] = """
        WITH u AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15)
                      AS BIGINT)::DOUBLE / 1152921504606846976.0 AS r
          FROM documents)
        SELECT CASE WHEN r < 0.8 THEN 'train'
                    WHEN r < 0.9 THEN 'val'
                    ELSE 'test' END AS split,
               count(*)::BIGINT AS n_docs
        FROM u GROUP BY 1
    """

    sql["jsonl_roundtrip"] = """
        SELECT doc_id, text, lang, source, n_chars FROM documents
    """

    sql["temperature_resample"] = """
        WITH h AS (SELECT source, count(*)::DOUBLE AS cnt FROM documents GROUP BY source),
        t AS (SELECT sum(cnt) AS tot FROM h),
        w AS (SELECT source, cnt, pow(cnt / t.tot, 0.5) AS w, t.tot AS tot FROM h, t),
        r AS (
          SELECT source,
                 least(1.0, (w / sum(w) OVER ()) * 0.5 * tot / cnt) AS rate
          FROM w)
        SELECT d.doc_id, d.source
        FROM documents d JOIN r USING (source)
        WHERE CAST('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15) AS BIGINT)::DOUBLE
                / 1152921504606846976.0 < r.rate
    """

    sql["ann_quantized"] = """
        WITH t AS (
          SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                 unnest(generate_series(1, len(embedding))) AS pos
          FROM embeddings),
        b AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM t GROUP BY pos),
        dq AS (
          SELECT t.vec_id, t.pos,
                 CASE WHEN b.mx = b.mn THEN b.mn
                      ELSE b.mn + floor((t.x - b.mn) * 255 / (b.mx - b.mn) + 0.5)
                             * (b.mx - b.mn) / 255
                 END AS dx
          FROM t JOIN b USING (pos)),
        arrs AS (SELECT vec_id, list(dx ORDER BY pos) AS dv FROM dq GROUP BY vec_id),
        qd AS (SELECT dv AS qv FROM arrs WHERE vec_id = 3),
        cand AS (
          SELECT a.vec_id,
                 round(list_cosine_similarity(a.dv, qd.qv), 6) AS approx
          FROM arrs a, qd
          ORDER BY approx DESC, a.vec_id
          LIMIT 50),
        qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 3)
        SELECT c.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 6)
                 AS cosine_sim
        FROM cand c JOIN embeddings e USING (vec_id), qv
        ORDER BY cosine_sim DESC, c.vec_id
        LIMIT 10
    """

    sql["substring_dedup"] = (
        "WITH " + _NEARDUP_CORPUS_SQL + """,
        w AS (
          SELECT doc_id, md5(substr(text, i, 50)) AS h
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1, length(text) - 49)) AS i
                FROM corpus WHERE length(text) >= 50)
          WHERE CAST('0x' || substr(md5(substr(text, i, 8)), 1, 8) AS BIGINT)
                  % 10 = 0),
        c AS (
          SELECT doc_id, h FROM (
            SELECT *, count(*) OVER (PARTITION BY h) AS hc FROM w)
          WHERE hc <= 64)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
        FROM c a JOIN c b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """
    )

    sql["neardup_pairs"] = (
        "WITH " + _NEARDUP_CORPUS_SQL + ", sig AS ("
        + _minhash_sql("corpus")
        + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
        + """
        SELECT DISTINCT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b
        FROM bands_c a JOIN bands_c b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        """
    )
    # the bucketed-materialization path must produce the identical set
    sql["neardup_pairs_bucketed"] = sql["neardup_pairs"]

    # exact Levenshtein over the same candidate set; sim replays the
    # identical double op order (1 - lev/len), rounded 6dp
    sql["neardup_editdist"] = (
        "WITH " + _NEARDUP_CORPUS_SQL + ", sig AS ("
        + _minhash_sql("corpus")
        + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
        + """
        , pairs AS (
          SELECT DISTINCT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        SELECT p.id_a, p.id_b,
               levenshtein(ca.text, cb.text)::BIGINT AS lev,
               round(CASE WHEN greatest(length(ca.text), length(cb.text)) > 0
                          THEN 1.0 - levenshtein(ca.text, cb.text)
                                     / greatest(length(ca.text), length(cb.text))
                          ELSE 1.0 END, 6) AS sim
        FROM pairs p
        JOIN corpus ca ON ca.doc_id = p.id_a
        JOIN corpus cb ON cb.doc_id = p.id_b
        """
    )

    sql["dedup_clusters"] = (
        "WITH RECURSIVE " + _NEARDUP_CORPUS_SQL.replace("corpus AS", "corpus AS", 1)
        + ", sig AS (" + _minhash_sql("corpus")
        + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
        + ", pairs AS ("
        + """
          SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        sym AS (
          SELECT ida AS a, idb AS b FROM pairs
          UNION
          SELECT idb, ida FROM pairs),
        reach(node, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b)
        SELECT node::BIGINT AS node, min(r)::BIGINT AS label
        FROM reach GROUP BY node
        """
    )

    sql["cluster_split"] = (
        "WITH RECURSIVE " + _NEARDUP_CORPUS_SQL
        + ", sig AS (" + _minhash_sql("corpus")
        + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
        + ", pairs AS ("
        + """
          SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        sym AS (
          SELECT ida AS a, idb AS b FROM pairs
          UNION
          SELECT idb, ida FROM pairs),
        reach(node, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b),
        labels AS (
          SELECT node, min(r) AS label FROM reach GROUP BY node),
        grouped AS (
          SELECT c.doc_id::BIGINT AS doc_id,
                 coalesce(l.label, c.doc_id)::BIGINT AS split_group
          FROM corpus c LEFT JOIN labels l ON l.node = c.doc_id)
        SELECT doc_id, split_group,
               CASE WHEN u < 0.8 THEN 'train'
                    WHEN u < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id, split_group,
                 CAST('0x' || substr(md5('split:' || split_group::VARCHAR), 1, 15)
                      AS BIGINT)::DOUBLE / 1152921504606846976.0 AS u
          FROM grouped)
        """
    )

    sql["dedup_apply"] = (
        "WITH RECURSIVE " + _NEARDUP_CORPUS_SQL
        + ", sig AS (" + _minhash_sql("corpus")
        + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
        + ", pairs AS ("
        + """
          SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        grams AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(t) >= 3 THEN
                     list_transform(generate_series(1, len(t) - 2),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' '))
                   ELSE [array_to_string(t, ' ')] END) AS g
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS t
                FROM corpus)),
        vpairs AS (
          SELECT p.ida, p.idb
          FROM pairs p
          JOIN grams ga ON ga.doc_id = p.ida
          JOIN grams gb ON gb.doc_id = p.idb
          WHERE round(len(list_intersect(ga.g, gb.g))::DOUBLE /
                      len(list_distinct(list_concat(ga.g, gb.g))), 6) >= 0.5),
        sym AS (
          SELECT ida AS a, idb AS b FROM vpairs
          UNION
          SELECT idb, ida FROM vpairs),
        reach(node, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b),
        labels AS (
          SELECT node, min(r) AS label FROM reach GROUP BY node)
        SELECT c.doc_id::BIGINT AS doc_id
        FROM corpus c
        WHERE NOT EXISTS (SELECT 1 FROM labels l
                          WHERE l.node = c.doc_id AND l.node <> l.label)
        """
    )

    sql["ngram_jaccard"] = (
        "WITH " + _NEARDUP_CORPUS_SQL + ", sig AS ("
        + _minhash_sql("corpus")
        + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
        + ", pairs AS ("
        + """
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands_c a JOIN bands_c b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), grams AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(t) >= 3 THEN
                     list_transform(generate_series(1, len(t) - 2),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' '))
                   ELSE [array_to_string(t, ' ')] END) AS g
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS t
                FROM corpus))
        SELECT p.id_a::BIGINT AS id_a, p.id_b::BIGINT AS id_b,
               round(len(list_intersect(ga.g, gb.g))::DOUBLE /
                     len(list_distinct(list_concat(ga.g, gb.g))), 6) AS jaccard
        FROM pairs p
        JOIN grams ga ON ga.doc_id = p.id_a
        JOIN grams gb ON gb.doc_id = p.id_b
        """
    )

    sql["ann_cosine_topk"] = """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine_sim
        FROM embeddings e, q
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """

    sql["knn_join"] = """
        SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[],
                                              q.embedding::DOUBLE[]), 6) AS cosine_sim,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                         q.embedding::DOUBLE[]), 6) DESC,
                            e.vec_id) AS rnk
          FROM embeddings e,
               (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q)
        WHERE rnk <= 5
    """

    sql["knn_join_bucketed"] = _knn_join_bucketed_sql()
    sql["cdc_apply"] = _cdc_apply_sql()

    sql["interval_overlap"] = """
        WITH p AS (
          SELECT event_id AS p_id, user_id,
                 epoch_ns(ts) - 1800000000000 AS p_start,
                 epoch_ns(ts) AS p_end
          FROM events WHERE event_type = 'purchase'),
        v AS (
          SELECT event_id AS v_id, user_id,
                 epoch_ns(ts) - 900000000000 AS v_start,
                 epoch_ns(ts) AS v_end
          FROM events WHERE event_type = 'view')
        SELECT p.p_id, v.v_id, p.user_id,
               (least(p.p_end, v.v_end)
                - greatest(p.p_start, v.v_start))::BIGINT AS overlap_ns
        FROM p JOIN v
          ON p.user_id = v.user_id
         AND p.p_start <= v.v_end AND v.v_start <= p.p_end
    """

    # DuckDB's native Unicode implementation vs Python unicodedata — the
    # suffixes are rebuilt with chr() (769=U+0301 acute, 776=U+0308
    # diaeresis, 771=U+0303 tilde), decomposed exactly as the Spark side
    sql["text_normalize"] = """
        WITH u AS (
          SELECT doc_id,
                 text || CASE (doc_id % 4)
                   WHEN 0 THEN ' e' || chr(769) || 'clair'
                   WHEN 1 THEN ' u' || chr(776) || 'ber'
                   WHEN 2 THEN ' an' || chr(771) || 'o'
                   ELSE ' Ca' || chr(769) || 'fe' || chr(769)
                 END AS raw
          FROM documents)
        SELECT doc_id,
               length(raw)::BIGINT AS raw_len,
               nfc_normalize(raw) AS nfc,
               length(nfc_normalize(raw))::BIGINT AS nfc_len,
               strip_accents(raw) AS stripped
        FROM u
    """

    # one-shot aggregate over everything — the merged two-batch state
    # must land on exactly this (decimal state is associative; the final
    # double arithmetic replays finalize_agg_state's op order)
    sql["incremental_agg"] = """
        WITH s AS (
          SELECT o_custkey,
                 count(v) AS n,
                 sum(v) AS sum, min(v) AS min_v, max(v) AS max_v,
                 sum(v * v) AS sum_sq
          FROM (SELECT o_custkey, o_totalprice::DECIMAL(18,2) AS v FROM orders)
          GROUP BY o_custkey)
        SELECT o_custkey, n::BIGINT AS n,
               min_v::DOUBLE AS min_v, max_v::DOUBLE AS max_v,
               floor((sum::DOUBLE / n) * 10000)::BIGINT AS mean_e4,
               floor(sqrt(greatest(sum_sq::DOUBLE / n
                                   - (sum::DOUBLE / n) * (sum::DOUBLE / n),
                                   0.0)) * 10000)::BIGINT AS stddev_pop_e4
        FROM s
    """

    sql["skew_profile"] = """
        WITH c AS (SELECT event_type, count(*)::BIGINT AS cnt FROM events
                   GROUP BY event_type),
        t AS (SELECT sum(cnt)::BIGINT AS rows_, count(*)::BIGINT AS keys_ FROM c)
        SELECT event_type, cnt,
               round(cnt / rows_, 6) AS frac,
               round(cnt * keys_ / rows_, 4) AS skew_factor
        FROM c, t
        ORDER BY cnt DESC, event_type
        LIMIT 10
    """
    sql["bloom_semi"] = _bloom_semi_sql()
    sql["zorder_keys"] = _zorder_keys_sql()

    # pixel/sample channel sums restated from doc_id arithmetic — the
    # attach builders derive every byte from the id (multimodal/binary.py
    # attach_bmp_payload / attach_pcm_wav_payload), so exact-integer SQL
    # over generate_series IS the decoded ground truth
    # dHash pipeline restated from doc_id arithmetic (attach_bmp_payload
    # texture formulas + extract_dhash's integer sampling): {imgs} maps
    # (id -> source image id, brightness bias); grid = nearest-neighbor
    # 9x8 sample points; gray = (B+G+R)//3; bit (i,j) via the i/i+1
    # self-join; 1<<63 wraps to long min exactly as numpy int64 does
    _dhash_ctes = """
        dims AS (
          SELECT id, img, bias, 1 + img % 16 AS w, 1 + (img * 3) % 16 AS h
          FROM imgs),
        grid AS (
          SELECT id, img, bias, w, h, ii.i, jj.j,
                 ((2 * ii.i + 1) * w) // 18 AS sx,
                 ((2 * jj.j + 1) * h) // 16 AS sy
          FROM dims,
               (SELECT unnest(generate_series(0, 8)) AS i) ii,
               (SELECT unnest(generate_series(0, 7)) AS j) jj),
        gray AS (
          SELECT id, i, j,
                 (((img + sx * 7 + sy * 13 + bias + sx * sy * (1 + img % 7)) % 256)
                + ((img + sx * 11 + sy * 3 + bias + sx * sy * (1 + img % 7)) % 256)
                + ((img + sx * 5 + sy * 17 + bias + sx * sy * (1 + img % 7)) % 256))
                 // 3 AS g
          FROM grid),
        dh AS (
          SELECT a.id,
                 sum(CASE WHEN b.g > a.g THEN
                       CASE WHEN a.j * 8 + a.i = 63
                            THEN (-9223372036854775807 - 1)
                            ELSE (1::BIGINT << (a.j * 8 + a.i)) END
                     ELSE 0 END)::BIGINT AS dhash
          FROM gray a JOIN gray b
            ON b.id = a.id AND b.j = a.j AND b.i = a.i + 1
          GROUP BY a.id)
    """

    sql["image_dhash"] = (
        """
        WITH imgs AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents),
        """
        + _dhash_ctes
        + """
        SELECT d.id::BIGINT AS doc_id, m.w::BIGINT AS width,
               m.h::BIGINT AS height, d.dhash
        FROM dh d JOIN dims m ON m.id = d.id
        """
    )

    sql["image_neardup"] = (
        """
        WITH imgs AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS id, doc_id AS img, 5 AS bias FROM documents),
        """
        + _dhash_ctes
        + """
        , kept AS (
          SELECT d.id, d.dhash FROM dh d JOIN dims m ON m.id = d.id
          WHERE m.w >= 8 AND m.h >= 8),
        bands AS (
          SELECT id, dhash, bb.band,
                 substr(printf('%016x', dhash), 1 + 4 * bb.band, 4) AS bucket
          FROM kept, (VALUES (0), (1), (2), (3)) AS bb(band)),
        bands_c AS (
          SELECT id, dhash, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
            FROM bands)
          WHERE bsz <= 64),
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 a.dhash AS ha, b.dhash AS hb
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
        SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
               bit_count(xor(ha, hb))::BIGINT AS hamming
        FROM pairs WHERE bit_count(xor(ha, hb)) <= 8
        """
    )

    # audio fingerprint restated from doc_id arithmetic
    # (attach_pcm_wav_payload texture formulas + extract_audio_fingerprint's
    # integer sampling): n = 16 + img % 64 samples, amp(s) = (img*31 + s*7
    # + (s*s % 16)*(1 + img % 5) + bias) % 256, 65 sample points
    _afp_ctes = """
        clip AS (
          SELECT id, img, bias, 16 + img % 64 AS n FROM snds),
        pts AS (
          SELECT id, img, bias, n, tt.t,
                 ((2 * tt.t + 1) * n) // 130 AS s
          FROM clip, (SELECT unnest(generate_series(0, 64)) AS t) tt),
        amp AS (
          SELECT id, t,
                 (img * 31 + s * 7 + (s * s % 16) * (1 + img % 5) + bias) % 256
                   AS a
          FROM pts),
        fp AS (
          SELECT x.id,
                 sum(CASE WHEN y.a > x.a THEN
                       CASE WHEN x.t = 63 THEN (-9223372036854775807 - 1)
                            ELSE (1::BIGINT << x.t) END
                     ELSE 0 END)::BIGINT AS fingerprint
          FROM amp x JOIN amp y ON y.id = x.id AND y.t = x.t + 1
          GROUP BY x.id)
    """

    sql["audio_fingerprint"] = (
        """
        WITH snds AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents),
        """
        + _afp_ctes
        + """
        SELECT f.id::BIGINT AS doc_id,
               CASE c.img % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                              WHEN 2 THEN 22050 ELSE 44100 END::BIGINT
                 AS sample_rate,
               c.n::BIGINT AS n_samples, f.fingerprint
        FROM fp f JOIN clip c ON c.id = f.id
        """
    )

    sql["audio_neardup"] = (
        """
        WITH snds AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS id, doc_id AS img, 4 AS bias FROM documents),
        """
        + _afp_ctes
        + """
        , bands AS (
          SELECT id, fingerprint, bb.band,
                 substr(printf('%016x', fingerprint), 1 + 4 * bb.band, 4)
                   AS bucket
          FROM fp, (VALUES (0), (1), (2), (3)) AS bb(band)),
        bands_c AS (
          SELECT id, fingerprint, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
            FROM bands)
          WHERE bsz <= 64),
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 a.fingerprint AS ha, b.fingerprint AS hb
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
        SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
               bit_count(xor(ha, hb))::BIGINT AS hamming
        FROM pairs WHERE bit_count(xor(ha, hb)) <= 8
        """
    )

    # multimodal_cluster_split: the three modality edge CTEs replayed
    # verbatim (text = minhash/bands/bands_c, image = _dhash_ctes +
    # i-prefixed banding, audio = _afp_ctes + a-prefixed banding), edges
    # unioned, recursive CC, cluster_split's md5 split rule on the label
    sql["multimodal_cluster_split"] = (
        "WITH RECURSIVE " + _NEARDUP_CORPUS_SQL
        + ", sig AS (" + _minhash_sql("corpus")
        + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
        + """,
        tpairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id),
        imgs AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS id, doc_id AS img, 5 AS bias
          FROM documents),
        """
        + _dhash_ctes
        + """,
        ikept AS (
          SELECT d.id, d.dhash FROM dh d JOIN dims m ON m.id = d.id
          WHERE m.w >= 8 AND m.h >= 8),
        ibands AS (
          SELECT id, dhash, bb.band,
                 substr(printf('%016x', dhash), 1 + 4 * bb.band, 4) AS bucket
          FROM ikept, (VALUES (0), (1), (2), (3)) AS bb(band)),
        ibands_c AS (
          SELECT id, dhash, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
            FROM ibands)
          WHERE bsz <= 64),
        ipairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM ibands_c a JOIN ibands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          WHERE bit_count(xor(a.dhash, b.dhash)) <= 8),
        snds AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS id, doc_id AS img, 4 AS bias
          FROM documents),
        """
        + _afp_ctes
        + """,
        abands AS (
          SELECT id, fingerprint, bb.band,
                 substr(printf('%016x', fingerprint), 1 + 4 * bb.band, 4)
                   AS bucket
          FROM fp, (VALUES (0), (1), (2), (3)) AS bb(band)),
        abands_c AS (
          SELECT id, fingerprint, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
            FROM abands)
          WHERE bsz <= 64),
        apairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM abands_c a JOIN abands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 8),
        alledges AS (
          SELECT id_a, id_b FROM tpairs
          UNION SELECT id_a, id_b FROM ipairs
          UNION SELECT id_a, id_b FROM apairs),
        sym AS (
          SELECT id_a AS a, id_b AS b FROM alledges
          UNION
          SELECT id_b, id_a FROM alledges),
        reach(node, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b),
        labels AS (
          SELECT node, min(r) AS label FROM reach GROUP BY node),
        allids AS (
          SELECT doc_id FROM documents
          UNION ALL
          SELECT doc_id + 100000 FROM documents),
        grouped AS (
          SELECT c.doc_id::BIGINT AS doc_id,
                 coalesce(l.label, c.doc_id)::BIGINT AS split_group
          FROM allids c LEFT JOIN labels l ON l.node = c.doc_id)
        SELECT doc_id, split_group,
               CASE WHEN u < 0.8 THEN 'train'
                    WHEN u < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id, split_group,
                 CAST('0x' || substr(md5('split:' || split_group::VARCHAR), 1, 15)
                      AS BIGINT)::DOUBLE / 1152921504606846976.0 AS u
          FROM grouped)
        """
    )

    # corpus_overlap: KMV bottom-k replayed exactly — md5-uniform hashes
    # (same 'kmv:' salt), ORDER BY h LIMIT k per side / merged, Beyer
    # et al. estimators with the identical double op order
    _KMV_D = "1152921504606846976.0"  # float(1 << 60), exact as a double
    sql["corpus_overlap"] = f"""
        WITH ta AS (
          SELECT DISTINCT CAST('0x' || substr(md5('kmv:' || substr(text, i, 5)),
                                              1, 15) AS BIGINT) AS h
          FROM (SELECT text,
                       unnest(generate_series(1, greatest(length(text) - 4, 1)))
                         AS i
                FROM documents WHERE doc_id % 2 = 0)),
        tb AS (
          SELECT DISTINCT CAST('0x' || substr(md5('kmv:' || substr(text, i, 5)),
                                              1, 15) AS BIGINT) AS h
          FROM (SELECT text,
                       unnest(generate_series(1, greatest(length(text) - 4, 1)))
                         AS i
                FROM documents WHERE doc_id % 3 = 0)),
        ka AS (SELECT h FROM ta ORDER BY h LIMIT 512),
        kb AS (SELECT h FROM tb ORDER BY h LIMIT 512),
        m AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
              ORDER BY h LIMIT 512),
        sa AS (SELECT count(*)::BIGINT AS na, max(h) AS mxa FROM ka),
        sb AS (SELECT count(*)::BIGINT AS nb, max(h) AS mxb FROM kb),
        sm AS (SELECT count(*)::BIGINT AS kk, max(h) AS uk FROM m),
        r AS (SELECT count(*)::BIGINT AS rho
              FROM m JOIN ka USING (h) JOIN kb USING (h))
        SELECT
          round(CASE WHEN na < 512 THEN na::DOUBLE
                     ELSE 511.0 * {_KMV_D} / mxa END, 4) AS est_distinct_a,
          round(CASE WHEN nb < 512 THEN nb::DOUBLE
                     ELSE 511.0 * {_KMV_D} / mxb END, 4) AS est_distinct_b,
          round(CASE WHEN kk < 512 THEN kk::DOUBLE
                     ELSE 511.0 * {_KMV_D} / uk END, 4) AS est_union,
          CASE WHEN kk = 0 THEN 0 ELSE
            floor((rho / kk) * CASE WHEN kk < 512 THEN kk::DOUBLE
                                    ELSE 511.0 * {_KMV_D} / uk END
                  * 10000)::BIGINT END AS est_intersection_e4,
          CASE WHEN kk = 0 THEN 0 ELSE floor((rho / kk) * 10000)::BIGINT END
            AS est_jaccard_e4
        FROM sa, sb, sm, r
    """

    # corpus_overlap_by_domain: the same KMV replay PER source domain —
    # row_number() per group bounds each state at k=128; groups present
    # on one side only coalesce to 0 like the Spark left joins
    sql["corpus_overlap_by_domain"] = f"""
        WITH ta AS (
          SELECT DISTINCT source,
                 CAST('0x' || substr(md5('kmv:' || substr(text, i, 5)),
                                     1, 15) AS BIGINT) AS h
          FROM (SELECT source, text,
                       unnest(generate_series(1, greatest(length(text) - 4, 1)))
                         AS i
                FROM documents WHERE doc_id % 2 = 0)),
        tb AS (
          SELECT DISTINCT source,
                 CAST('0x' || substr(md5('kmv:' || substr(text, i, 5)),
                                     1, 15) AS BIGINT) AS h
          FROM (SELECT source, text,
                       unnest(generate_series(1, greatest(length(text) - 4, 1)))
                         AS i
                FROM documents WHERE doc_id % 3 = 0)),
        ka AS (SELECT source, h FROM (
                 SELECT source, h,
                        row_number() OVER (PARTITION BY source ORDER BY h) AS r
                 FROM ta) WHERE r <= 128),
        kb AS (SELECT source, h FROM (
                 SELECT source, h,
                        row_number() OVER (PARTITION BY source ORDER BY h) AS r
                 FROM tb) WHERE r <= 128),
        m AS (SELECT source, h FROM (
                SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h) AS r
                FROM (SELECT source, h FROM ka UNION SELECT source, h FROM kb))
              WHERE r <= 128),
        sa AS (SELECT source, count(*)::BIGINT AS na, max(h) AS mxa
               FROM ka GROUP BY source),
        sb AS (SELECT source, count(*)::BIGINT AS nb, max(h) AS mxb
               FROM kb GROUP BY source),
        sm AS (SELECT source, count(*)::BIGINT AS kk, max(h) AS uk
               FROM m GROUP BY source),
        r AS (SELECT m.source, count(*)::BIGINT AS rho
              FROM m JOIN ka USING (source, h) JOIN kb USING (source, h)
              GROUP BY m.source)
        SELECT
          sm.source AS source,
          round(CASE WHEN coalesce(na, 0) < 128 THEN coalesce(na, 0)::DOUBLE
                     ELSE 127.0 * {_KMV_D} / mxa END, 4) AS est_distinct_a,
          round(CASE WHEN coalesce(nb, 0) < 128 THEN coalesce(nb, 0)::DOUBLE
                     ELSE 127.0 * {_KMV_D} / mxb END, 4) AS est_distinct_b,
          round(CASE WHEN kk < 128 THEN kk::DOUBLE
                     ELSE 127.0 * {_KMV_D} / uk END, 4) AS est_union,
          floor((coalesce(rho, 0) / kk)
                * CASE WHEN kk < 128 THEN kk::DOUBLE
                       ELSE 127.0 * {_KMV_D} / uk END
                * 10000)::BIGINT AS est_intersection_e4,
          floor((coalesce(rho, 0) / kk) * 10000)::BIGINT AS est_jaccard_e4
        FROM sm LEFT JOIN sa USING (source) LEFT JOIN sb USING (source)
                LEFT JOIN r USING (source)
    """

    sql["multimodal_pixels"] = """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id * 3) % 16 AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
        px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs)
        SELECT doc_id, w::BIGINT AS width, h::BIGINT AS height,
               (w * h)::BIGINT AS n_pixels,
               sum((doc_id + x * 7 + y * 13) % 256)::BIGINT AS sum_b,
               sum((doc_id + x * 11 + y * 3) % 256)::BIGINT AS sum_g,
               sum((doc_id + x * 5 + y * 17) % 256)::BIGINT AS sum_r
        FROM px GROUP BY doc_id, w, h
    """

    sql["multimodal_png"] = sql["multimodal_pixels"]

    # JPEG fixture: block-constant gray => flat-quant DCT round trip is
    # lossless (constant block: DC = 8*(c-128) exact, AC = 0), so decoded
    # sums restate from id arithmetic; each 8x8 block contributes 64x its
    # gray value to every channel
    sql["multimodal_jpeg_pixels"] = """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 8 AS wb, 1 + (doc_id * 3) % 8 AS hb
          FROM documents),
        bs AS (SELECT doc_id, wb, hb, unnest(generate_series(0, wb - 1)) AS bx
               FROM d),
        b2 AS (SELECT doc_id, wb, hb, bx,
                      unnest(generate_series(0, hb - 1)) AS by
               FROM bs)
        SELECT doc_id, (wb * 8)::BIGINT AS width, (hb * 8)::BIGINT AS height,
               (wb * hb * 64)::BIGINT AS n_pixels,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 64)::BIGINT AS sum_b,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 64)::BIGINT AS sum_g,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 64)::BIGINT AS sum_r
        FROM b2 GROUP BY doc_id, wb, hb
    """

    # 4:2:0 fixture: gray-valued color constant per 16x16 MACROBLOCK =>
    # chroma box-average and replication-upsample are exact, flat-quant
    # DCT is lossless; each macroblock contributes 256x its value
    sql["multimodal_jpeg_420"] = """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 4 AS wb, 1 + (doc_id * 3) % 4 AS hb
          FROM documents),
        bs AS (SELECT doc_id, wb, hb, unnest(generate_series(0, wb - 1)) AS bx
               FROM d),
        b2 AS (SELECT doc_id, wb, hb, bx,
                      unnest(generate_series(0, hb - 1)) AS by
               FROM bs)
        SELECT doc_id, (wb * 16)::BIGINT AS width, (hb * 16)::BIGINT AS height,
               (wb * hb * 256)::BIGINT AS n_pixels,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 256)::BIGINT AS sum_b,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 256)::BIGINT AS sum_g,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 256)::BIGINT AS sum_r
        FROM b2 GROUP BY doc_id, wb, hb
    """

    sql["multimodal_gif"] = """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id * 3) % 16 AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
        px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        v AS (SELECT doc_id, w, h, (doc_id + x * 7 + y * 13) % 256 AS idx FROM px)
        SELECT doc_id, w::BIGINT AS width, h::BIGINT AS height,
               (w * h)::BIGINT AS n_pixels,
               sum(idx)::BIGINT AS sum_r,
               sum((idx * 3) % 256)::BIGINT AS sum_g,
               sum((idx * 7) % 256)::BIGINT AS sum_b
        FROM v GROUP BY doc_id, w, h
    """

    sql["multimodal_samples"] = """
        WITH d AS (SELECT doc_id, 16 + doc_id % 64 AS n, doc_id % 4 AS ri
                   FROM documents),
        s AS (SELECT doc_id, n, ri, unnest(generate_series(0, n - 1)) AS i FROM d)
        SELECT doc_id,
               (CASE ri WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 22050 ELSE 44100 END)::BIGINT AS sample_rate,
               n::BIGINT AS n_samples,
               sum((doc_id * 31 + i * 7) % 256)::BIGINT AS sum_samples,
               max((doc_id * 31 + i * 7) % 256)::BIGINT AS peak
        FROM s GROUP BY doc_id, n, ri
    """

    sql["multimodal_features"] = """
        SELECT doc_id,
               octet_length(encode(text))::BIGINT AS byte_len,
               md5(text) AS content_hash
        FROM documents
    """

    sql["multimodal_resize"] = """
        WITH dims AS (
          SELECT doc_id,
                 1 + (doc_id * 37) % 512 AS width,
                 1 + (doc_id * 53) % 512 AS height
          FROM documents)
        SELECT doc_id, width, height,
               CASE WHEN greatest(width, height) <= 256 THEN width
                    ELSE greatest((width * 256) // greatest(width, height), 1)
               END::BIGINT AS thumb_w,
               CASE WHEN greatest(width, height) <= 256 THEN height
                    ELSE greatest((height * 256) // greatest(width, height), 1)
               END::BIGINT AS thumb_h
        FROM dims
    """

    sql["window_running_sum"] = """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS running_total
        FROM orders
    """

    sql["window_lag_lead"] = """
        SELECT o_custkey, o_orderkey,
               lag(o_orderkey) OVER w AS prev_order,
               lead(o_orderkey) OVER w AS next_order,
               dense_rank() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """

    sql["window_rank_family"] = """
        SELECT c_custkey, c_mktsegment,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """

    sql["tfidf"] = r"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS token
          FROM documents),
        tf AS (
          SELECT doc_id, token, count(*)::BIGINT AS tf
          FROM tok GROUP BY doc_id, token),
        doc_len AS (
          SELECT doc_id, count(*)::BIGINT AS n_tok FROM tok GROUP BY doc_id),
        dfc AS (
          SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 round((tf.tf / doc_len.n_tok) * ln(n.n_docs / dfc.df), 6) AS tfidf
          FROM tf
          JOIN doc_len ON tf.doc_id = doc_len.doc_id
          JOIN dfc ON tf.token = dfc.token, n)
        SELECT doc_id, token, tfidf, rnk FROM (
          SELECT doc_id, token, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, token) AS rnk
          FROM scored)
        WHERE rnk <= 3
    """

    sql["percentiles"] = """
        SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        FROM orders
    """

    sql["semi_anti_join"] = """
        SELECT c_custkey, 'has_urgent' AS tag FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        UNION ALL
        SELECT c_custkey, 'no_urgent' AS tag FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """

    sql["having_subquery"] = """
        SELECT c_mktsegment, round(avg(c_acctbal), 4) AS avg_bal,
               count(*)::BIGINT AS n
        FROM customer GROUP BY c_mktsegment
        HAVING avg(c_acctbal) > (SELECT avg(c_acctbal) FROM customer)
    """

    sql["string_funcs"] = """
        SELECT p_partkey,
               upper(p_name) AS upper_name,
               length(p_name)::INTEGER AS name_len,
               substr(p_name, 1, 3) AS prefix3,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
               lpad(p_partkey::VARCHAR, 8, '0') AS padded_key,
               string_split(p_name, ' ')[1] AS first_word
        FROM part
    """

    sql["date_funcs"] = """
        SELECT o_orderkey,
               year(o_orderdate)::INTEGER AS yr,
               month(o_orderdate)::INTEGER AS mo,
               day(o_orderdate)::INTEGER AS dom,
               quarter(o_orderdate)::INTEGER AS qtr,
               dayofweek(o_orderdate)::INTEGER AS dow_sun0,
               strftime(o_orderdate, '%Y-%m') AS ym
        FROM orders
    """

    sql["case_bucketing"] = """
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 150000 THEN 'medium'
                    ELSE 'large' END AS bucket,
               count(*)::BIGINT AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY 1
    """

    sql["pivot_native"] = """
        SELECT year(o_orderdate)::INTEGER AS yr,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT')::BIGINT AS n_1,
               count(*) FILTER (WHERE o_orderpriority = '2-HIGH')::BIGINT AS n_2,
               count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')::BIGINT AS n_3,
               count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')::BIGINT AS n_4,
               count(*) FILTER (WHERE o_orderpriority = '5-LOW')::BIGINT AS n_5
        FROM orders GROUP BY 1
    """

    sql["events_sliding"] = """
        WITH b AS (
          SELECT date_trunc('hour', ts)
                 + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                        ELSE INTERVAL 0 MINUTE END AS s30,
                 event_type
          FROM events),
        u AS (
          SELECT unnest([s30 - INTERVAL 30 MINUTE, s30]) AS ws, event_type FROM b)
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*)::BIGINT AS n_events
        FROM u GROUP BY 1, 2
    """

    sql["streaming_tumbling"] = sql["events_tumbling"]
    sql["streaming_session"] = sql["session_window_native"]

    # replays the three-batch watermark trajectory (empirically pinned —
    # see q_streaming_watermark): batches = even ids, ids%4==1, ids%4==3.
    # The late filter for batch 2 uses wm1 = ms-floored max(batch-0 ts)
    # minus 1h and drops whole windows (window.end <= wm1); batches 0/1
    # drop nothing (their filter watermark is still epoch 0). Append mode
    # emits a window once its end passes the final watermark
    # wmF = ms-floored max(all ts) - 1h; later windows never emit.
    sql["streaming_watermark"] = """
        WITH e AS (SELECT event_id, event_type, epoch_ns(ts) AS tns, value
                   FROM events),
        wm1 AS (SELECT (max(tns) // 1000000) * 1000000 - 3600000000000 AS w
                FROM e WHERE event_id % 2 = 0),
        wmf AS (SELECT (max(tns) // 1000000) * 1000000 - 3600000000000 AS w
                FROM e),
        kept AS (
          SELECT event_type, tns, value FROM e
          WHERE event_id % 2 = 0 OR event_id % 4 = 1
          UNION ALL
          SELECT e.event_type, e.tns, e.value FROM e, wm1
          WHERE e.event_id % 4 = 3
            AND ((e.tns // 3600000000000) + 1) * 3600000000000 > wm1.w
        )
        SELECT strftime(make_timestamp((tns // 3600000000000) * 3600000000),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*)::BIGINT AS n_events,
               round(sum(value), 2) AS sum_value
        FROM kept, wmf
        WHERE ((tns // 3600000000000) + 1) * 3600000000000 <= wmf.w
        GROUP BY 1, 2
    """

    sql["edit_overlay"] = """
        SELECT 0::BIGINT AS __row_idx, '900' AS n_nationkey,
               'FIRST' AS n_name, '9' AS n_regionkey
        UNION ALL
        SELECT 10::BIGINT, '901', 'MIDDLE', '9'
        UNION ALL
        SELECT (CASE WHEN n_nationkey <= 4 THEN n_nationkey + 1
                     WHEN n_nationkey <= 9 THEN n_nationkey
                     ELSE n_nationkey + 1 END)::BIGINT,
               n_nationkey::VARCHAR,
               CASE WHEN n_nationkey = 3 THEN 'EDITED' ELSE n_name END,
               n_regionkey::VARCHAR
        FROM nation WHERE n_nationkey <> 5
    """

    sql["dynamic_typing_struct"] = """
        SELECT c_custkey,
               CASE c_custkey % 4 WHEN 0 THEN 'number' WHEN 1 THEN 'boolean'
                    WHEN 2 THEN 'null' ELSE 'string' END AS vtype,
               CASE WHEN c_custkey % 4 = 1 THEN true END AS vbool,
               CASE WHEN c_custkey % 4 = 0 THEN c_custkey::DOUBLE END AS vnum,
               CASE WHEN c_custkey % 4 = 3 THEN 'hello' END AS vstr
        FROM customer
    """

    sql["embedding_norms"] = """
        WITH n AS (
          SELECT label,
                 sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nm
          FROM embeddings)
        SELECT label, count(*)::BIGINT AS n,
               round(avg(nm), 4) AS avg_norm,
               round(min(nm), 4) AS min_norm,
               round(max(nm), 4) AS max_norm
        FROM n GROUP BY label
    """

    sql["csv_roundtrip"] = """
        SELECT n_regionkey::DOUBLE AS n_regionkey,
               count(*)::BIGINT AS n,
               round(sum(n_nationkey), 2) AS key_sum,
               min(n_name) AS first_name
        FROM nation GROUP BY 1
    """

    # replays seeding + ONE Lloyd pass (rounded cosine argmax with
    # larger-cid ties — the ivf_cell_expr/max-struct convention — then
    # 6-dp elementwise means), then the refined Voronoi assignment + probe
    sql["ivf_ann"] = """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
        s0 AS (
          SELECT vec_id AS cid, list_transform(embedding::DOUBLE[], x -> round(x, 6)) AS cv
          FROM embeddings WHERE vec_id < 16),
        asg AS (
          SELECT e.vec_id, e.embedding,
                 (max(struct_pack(
                    s := round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6),
                    c := c.cid))).c AS cell
          FROM embeddings e, s0 c
          GROUP BY e.vec_id, e.embedding),
        cents AS (
          SELECT cell AS cid, list(m ORDER BY pos) AS cv FROM (
            SELECT cell, pos, round(avg(x), 6) AS m FROM (
              SELECT cell, unnest(embedding)::DOUBLE AS x,
                     unnest(generate_series(1, len(embedding))) AS pos
              FROM asg)
            GROUP BY cell, pos)
          GROUP BY cell),
        assigned AS (
          SELECT e.vec_id, e.embedding,
                 (max(struct_pack(s := list_cosine_similarity(e.embedding::DOUBLE[], c.cv),
                                  c := c.cid))).c AS cell
          FROM embeddings e, cents c
          GROUP BY e.vec_id, e.embedding),
        probes AS (
          SELECT cid AS cell FROM (
            SELECT c.cid, row_number() OVER (
              ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid DESC) AS rn
            FROM cents c, q) WHERE rn <= 2)
        SELECT a.vec_id,
               round(list_cosine_similarity(a.embedding::DOUBLE[], q.qv), 6) AS cosine_sim
        FROM assigned a, q
        WHERE a.cell IN (SELECT cell FROM probes)
        ORDER BY cosine_sim DESC, a.vec_id
        LIMIT 10
    """

    sql["top_tokens"] = r"""
        SELECT token, count(*)::BIGINT AS n FROM (
          SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS token
          FROM documents)
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 50
    """

    sql["quality_filter"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS t
          FROM documents),
        m AS (
          SELECT doc_id,
                 len(t)::BIGINT AS n_tokens,
                 CASE WHEN len(t) > 0 THEN
                   list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)
                 ELSE 0.0 END AS mtl,
                 CASE WHEN len(t) > 0 THEN
                   len(list_filter(t, x -> lower(x) IN
                     (""" + _stopword_sql_list("en") + r""")))::DOUBLE / len(t)
                 ELSE 0.0 END AS swr
          FROM toks)
        SELECT doc_id, n_tokens,
               round(mtl, 4) AS mean_token_len,
               round(swr, 4) AS stopword_ratio_en
        FROM m
        WHERE n_tokens >= 20 AND swr <= 0.5 AND mtl >= 3.0 AND mtl <= 12.0
    """

    sql["schema_apply"] = """
        SELECT c_custkey,
               (CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_custkey END)::BIGINT AS sid,
               CASE WHEN c_custkey % 3 = 0 THEN 0.0
                    ELSE (c_custkey * 2)::DOUBLE END AS sbal,
               CASE WHEN c_custkey % 2 = 0 THEN true ELSE NULL END AS sok
        FROM customer
    """

    sql["label_centroids"] = """
        WITH e AS (
          SELECT label,
                 unnest(embedding)::DOUBLE AS x,
                 unnest(generate_series(1, len(embedding))) AS pos
          FROM embeddings)
        SELECT label, (pos - 1)::BIGINT AS pos,
               round(avg(x), 4) + 0.0 AS m
        FROM e GROUP BY label, pos
    """

    # reader option-matrix gates: the fixture is nation serialized with
    # deterministically planted irregularities (_nation_csv_fixture), so
    # the oracle states the expected surviving rows from the parquet
    sql["csv_opts_comments"] = """
        SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
               n_regionkey::VARCHAR AS n_regionkey
        FROM nation
    """

    # r18: greedy skipEmptyRows drops every planted empty/whitespace
    # line — the surviving set is exactly the unplanted table
    sql["csv_opts_skipempty"] = sql["csv_opts_comments"]

    sql["csv_opts_fromto"] = """
        SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
               n_regionkey::VARCHAR AS n_regionkey
        FROM nation WHERE n_nationkey BETWEEN 3 AND 18
    """

    sql["csv_opts_relax"] = """
        SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
               CASE WHEN n_nationkey % 7 = 3 THEN NULL
                    ELSE n_regionkey::VARCHAR END AS n_regionkey,
               CASE WHEN n_nationkey % 7 <> 3 AND n_nationkey % 5 = 2
                    THEN 'x' || n_nationkey::VARCHAR END AS extra
        FROM nation
    """

    sql["csv_opts_errors"] = """
        SELECT n_nationkey::BIGINT AS row, 'FieldMismatch' AS type,
               CASE WHEN n_nationkey % 7 = 3 THEN 'TooFewFields'
                    ELSE 'TooManyFields' END AS code,
               CASE WHEN n_nationkey % 7 = 3 THEN 'expected 3 fields, got 2'
                    ELSE 'expected 3 fields, got 4' END AS message
        FROM nation
        WHERE n_nationkey % 7 = 3 OR (n_nationkey % 7 <> 3 AND n_nationkey % 5 = 2)
    """

    # mirrors stratified_sample_hash: md5-bucket < per-stratum cutoff
    sql["stratified_sample"] = """
        SELECT doc_id, lang, source FROM documents
        WHERE CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) % 10000 <
          CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 10000
                    WHEN 'es' THEN 5000 WHEN 'de' THEN 10000
                    WHEN 'fr' THEN 7500 END
    """

    # dropDuplicatesWithinWatermark with a watermark spanning the replay
    # keeps exactly one row per key -> the distinct key set
    sql["streaming_dedup"] = """
        SELECT DISTINCT user_id, event_type FROM events
    """

    sql["dedup_embedding"] = _dedup_embedding_sql()

    sql["text_chunks"] = r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        d AS (
          SELECT doc_id, toks,
                 greatest(ceil((len(toks) - 8) / 56.0)::INT, 1) AS n_chunks
          FROM t),
        f AS (SELECT doc_id, toks,
                     unnest(generate_series(0, n_chunks - 1)) AS i FROM d)
        SELECT doc_id, i::BIGINT AS chunk_idx,
               array_to_string(list_slice(toks, i * 56 + 1, i * 56 + 64), ' ')
                 AS chunk_text,
               least(len(toks) - i * 56, 64)::BIGINT AS n_tokens
        FROM f
    """

    sql["pii_redact"] = r"""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN
                   text || ' contact user' || doc_id || '@example.com from 10.0.'
                        || (doc_id % 200) || '.7 or +1 555 010 '
                        || (doc_id % 9000 + 1000)
                 ELSE text END AS b
          FROM documents)
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(b,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                 '\+\d[\d -]{7,}\d', '<PHONE>', 'g') AS clean
        FROM base
    """

    sql["seq_packing"] = r"""
        WITH c AS (
          SELECT doc_id, (doc_id % 16)::BIGINT AS shard,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> ''))::BIGINT AS n_tok
          FROM documents),
        w AS (
          SELECT *, coalesce(sum(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM c)
        SELECT doc_id, shard, n_tok, (cum // 512)::BIGINT AS pack_id,
               (row_number() OVER (PARTITION BY shard, cum // 512
                                   ORDER BY doc_id) - 1)::BIGINT AS pack_pos
        FROM w
    """

    sql["bm25"] = r"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS token
          FROM documents),
        tf AS (
          SELECT doc_id, token, count(*)::BIGINT AS tf
          FROM tok GROUP BY doc_id, token),
        dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
        dfc AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        t AS (SELECT sum(tf)::DOUBLE / (SELECT n_docs FROM n) AS avgdl FROM tf),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 round(ln((n.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / t.avgdl)),
                       6) AS bm25
          FROM tf
          JOIN dl ON tf.doc_id = dl.doc_id
          JOIN dfc ON tf.token = dfc.token, n, t)
        SELECT doc_id, token, bm25, rnk FROM (
          SELECT doc_id, token, bm25,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY bm25 DESC, token) AS rnk
          FROM scored)
        WHERE rnk <= 3
    """

    # the audio/frame "decode" is a deterministic header stub (md5-derived
    # — multimodal/binary.py); the oracle replays the same arithmetic
    sql["multimodal_audio"] = """
        WITH a AS (
          SELECT doc_id, doc_id % 4 AS ri,
                 octet_length(encode(text)) AS ns
          FROM documents)
        SELECT doc_id,
               (CASE ri WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 22050 ELSE 44100 END)::BIGINT AS sample_rate,
               ns::BIGINT AS n_samples,
               ((ns * 1000) // (CASE ri WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 22050 ELSE 44100 END))::BIGINT
                 AS duration_ms
        FROM a
    """

    sql["multimodal_frames"] = """
        WITH a AS (
          SELECT doc_id, md5(text) AS h, doc_id % 4 AS ri,
                 octet_length(encode(text)) AS ns
          FROM documents),
        d AS (
          SELECT doc_id, h,
                 least(((ns * 1000) // (CASE ri WHEN 0 THEN 8000
                        WHEN 1 THEN 16000 WHEN 2 THEN 22050
                        ELSE 44100 END)) // 10 + 1, 8) AS n_frames
          FROM a),
        f AS (SELECT doc_id, h, unnest(generate_series(0, n_frames - 1)) AS i
              FROM d)
        SELECT doc_id, i::BIGINT AS frame_idx, (i * 10)::BIGINT AS frame_ts_ms,
               md5(h || ':' || i) AS frame_hash
        FROM f
    """

    sql["user_sequences"] = """
        WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, event_type AS et
                   FROM events),
        ranked AS (
          SELECT user_id, tns, et,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY tns DESC, et DESC) AS rn
          FROM e),
        kept AS (SELECT * FROM ranked WHERE rn <= 64)
        SELECT user_id, count(*)::BIGINT AS n_events,
               string_agg(et || '@' || tns::VARCHAR, ' ' ORDER BY tns, et) AS seq
        FROM kept GROUP BY user_id
    """

    sql["streaming_enrich"] = """
        WITH p AS (SELECT user_id, value FROM events
                   WHERE event_type = 'purchase')
        SELECT c.c_mktsegment,
               count(*)::BIGINT AS n_purchases,
               round(sum(p.value), 2) AS total_value
        FROM p LEFT JOIN customer c ON p.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
    """

    # the stateful operator's final per-user state equals the batch agg
    sql["streaming_stateful"] = """
        SELECT user_id, count(*)::BIGINT AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY user_id
    """

    sql["streaming_join"] = """
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS click_id, user_id, ts FROM events
                   WHERE event_type = 'click')
        SELECT p.event_id, c.click_id, p.user_id,
               (epoch_us(p.ts) - epoch_us(c.ts))::BIGINT AS gap_us
        FROM p JOIN c ON p.user_id = c.user_id
          AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
          AND epoch_us(c.ts) <= epoch_us(p.ts)
    """

    sql["asof_join"] = """
        WITH p AS (SELECT event_id, user_id, ts, value FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts, event_id AS click_id FROM events
                   WHERE event_type = 'click')
        SELECT p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               c.click_id,
               (epoch_us(p.ts) - epoch_us(c.ts))::BIGINT AS gap_us
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """

    sql["range_join"] = """
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT p.event_id, p.user_id, count(c.user_id)::BIGINT AS n_clicks
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        GROUP BY p.event_id, p.user_id
    """

    # --- corpus-hygiene operators (operators/corpus.py) -------------------
    # word tokens / strict n-grams exactly as the Spark expressions build
    # them: split trimmed text on \s+, n-grams empty when tokens < n
    _TOKS_SQL = r"""
        SELECT doc_id, text,
               list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> '') AS t
        FROM documents
    """

    def _grams_sql(n: int, src: str = "t") -> str:
        return (
            f"CASE WHEN len({src}) >= {n} THEN "
            f"list_transform(generate_series(1, len({src}) - {n - 1}), "
            f"i -> array_to_string(list_slice({src}, i, i + {n - 1}), ' ')) "
            f"ELSE [] END"
        )

    sql["repetition_filter"] = (
        "WITH toks AS (" + _TOKS_SQL + "),"
        + f"""
        g AS (
          SELECT doc_id, t,
                 {_grams_sql(2)} AS g2,
                 {_grams_sql(3)} AS g3
          FROM toks),
        m AS (
          SELECT doc_id,
                 CASE WHEN len(t) > 0
                      THEN 1.0 - len(list_distinct(t))::DOUBLE / len(t)
                      ELSE 0.0 END AS dup_word_frac,
                 CASE WHEN len(g2) > 0
                      THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2)
                      ELSE 0.0 END AS dup_2gram_frac,
                 CASE WHEN len(g3) > 0
                      THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3)
                      ELSE 0.0 END AS dup_3gram_frac,
                 CASE WHEN len(g2) > 0
                      THEN list_max(list_transform(list_distinct(g2),
                             d -> len(list_filter(g2, x -> x = d))))::DOUBLE
                           / len(g2)
                      ELSE 0.0 END AS top_2gram_frac
          FROM g)
        SELECT doc_id,
               round(dup_word_frac, 6) AS dup_word_frac,
               round(dup_2gram_frac, 6) AS dup_2gram_frac,
               round(dup_3gram_frac, 6) AS dup_3gram_frac,
               round(top_2gram_frac, 6) AS top_2gram_frac,
               (dup_2gram_frac <= 0.04 AND top_2gram_frac <= 0.05) AS keep
        FROM m
        """
    )

    sql["decontamination"] = (
        "WITH toks AS (" + _TOKS_SQL + "),"
        + f"""
        g AS (SELECT doc_id, list_distinct({_grams_sql(5)}) AS g5 FROM toks),
        ev AS (SELECT DISTINCT unnest(g5) AS gram FROM g WHERE doc_id % 19 = 0),
        tg AS (SELECT doc_id, unnest(g5) AS gram FROM g WHERE doc_id % 19 <> 0),
        hits AS (
          SELECT tg.doc_id, count(*) AS n_hits
          FROM tg JOIN ev USING (gram) GROUP BY tg.doc_id)
        SELECT d.doc_id,
               coalesce(h.n_hits, 0)::BIGINT AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        WHERE d.doc_id % 19 <> 0
        """
    )

    sql["decontamination_surgical"] = (
        "WITH toks AS (" + _TOKS_SQL + "),"
        + f"""
        g AS (SELECT doc_id, t, {_grams_sql(5)} AS g5 FROM toks),
        ev AS (SELECT DISTINCT unnest(g5) AS gram FROM g WHERE doc_id % 19 = 0),
        tg AS (
          SELECT doc_id, i AS strt,
                 array_to_string(list_slice(t, i, i + 4), ' ') AS gram
          FROM (SELECT doc_id, t FROM g WHERE doc_id % 19 <> 0),
               unnest(generate_series(1, greatest(len(t) - 4, 0))) AS u(i)),
        hits AS (SELECT DISTINCT doc_id, strt FROM tg JOIN ev USING (gram)),
        covered AS (
          SELECT DISTINCT doc_id, strt + o AS pos
          FROM hits, unnest(generate_series(0, 4)) AS v(o)),
        tok_rows AS (
          SELECT doc_id, i AS pos, t[i] AS tok
          FROM (SELECT doc_id, t FROM g WHERE doc_id % 19 <> 0),
               unnest(generate_series(1, len(t))) AS w(i)),
        clean AS (
          SELECT tr.doc_id, tr.pos, tr.tok FROM tok_rows tr
          WHERE NOT EXISTS (SELECT 1 FROM covered c
                            WHERE c.doc_id = tr.doc_id AND c.pos = tr.pos)),
        rebuilt AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_kept
          FROM clean GROUP BY doc_id)
        SELECT g.doc_id,
               coalesce(r.clean_text, '') AS clean_text,
               coalesce(r.n_kept, 0)::BIGINT AS n_tokens_kept,
               (len(g.t) - coalesce(r.n_kept, 0))::BIGINT AS n_tokens_cut
        FROM g LEFT JOIN rebuilt r ON r.doc_id = g.doc_id
        WHERE g.doc_id % 19 <> 0
        """
    )

    sql["cross_corpus_dedup"] = r"""
        WITH fp AS (
          SELECT doc_id, lang, source,
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
          FROM documents),
        snap AS (SELECT DISTINCT f FROM fp WHERE doc_id % 4 = 0)
        SELECT doc_id, lang, source FROM fp
        WHERE f NOT IN (SELECT f FROM snap)
    """

    sql["corpus_mixture"] = r"""
        WITH per AS (
          SELECT source,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> ''))::BIGINT AS nt,
                 len(text) AS nc
          FROM documents),
        agg AS (
          SELECT source, count(*)::BIGINT AS n_docs,
                 sum(nt)::BIGINT AS n_tokens,
                 round(avg(nc), 4) AS mean_chars
          FROM per GROUP BY source),
        tot AS (SELECT sum(n_docs) AS nd, sum(n_tokens) AS nt FROM agg)
        SELECT source, n_docs, n_tokens, mean_chars,
               round(n_docs::DOUBLE / tot.nd, 6) AS doc_share,
               round(n_tokens::DOUBLE / tot.nt, 6) AS token_share
        FROM agg, tot
    """

    sql["oversample_epochs"] = """
        SELECT doc_id, source,
               unnest(generate_series(
                 1, CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 3 + 1
               ))::BIGINT AS epoch
        FROM documents
    """

    # k-means oracle: replays the exact pinned trajectory — smallest-id
    # init, round(dist, 6) argmin with id tiebreak, round(avg, 6) centroid
    # updates — two (assign, update) rounds then the final assignment
    _KM_ASSIGN = """
        SELECT id, v, cid, d FROM (
          SELECT p.id, p.v, c.cid,
                 round(list_distance(p.v, c.c), 6) AS d,
                 row_number() OVER (
                   PARTITION BY p.id
                   ORDER BY round(list_distance(p.v, c.c), 6), c.cid) AS rn
          FROM pts p CROSS JOIN {cen} c) WHERE rn = 1
    """
    _KM_UPDATE = """
        SELECT cid, list(m ORDER BY pos) AS c FROM (
          SELECT cid, pos, round(avg(x), 6) AS m FROM (
            SELECT cid, unnest(v) AS x,
                   unnest(generate_series(1, len(v))) AS pos
            FROM {asg})
          GROUP BY cid, pos)
        GROUP BY cid
    """
    sql["kmeans_embeddings"] = (
        """
        WITH pts AS (
          SELECT vec_id AS id,
                 list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings),
        c0 AS (
          SELECT row_number() OVER (ORDER BY id) AS cid,
                 list_transform(v, x -> round(x, 6)) AS c
          FROM (SELECT * FROM pts ORDER BY id LIMIT 8)),
        """
        + "a1 AS (" + _KM_ASSIGN.format(cen="c0") + "),"
        + "c1 AS (" + _KM_UPDATE.format(asg="a1") + "),"
        + "a2 AS (" + _KM_ASSIGN.format(cen="c1") + "),"
        + "c2 AS (" + _KM_UPDATE.format(asg="a2") + "),"
        + "af AS (" + _KM_ASSIGN.format(cen="c2") + ")"
        + """
        SELECT id::BIGINT AS vec_id, cid::BIGINT AS cluster, d AS dist
        FROM af
        """
    )

    # -- round-4 additions ---------------------------------------------------

    sql["kmv_distinct"] = """
        WITH d AS (
          SELECT DISTINCT event_type,
                 CAST('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 15)
                      AS BIGINT) AS u
          FROM events),
        r AS (
          SELECT event_type, u,
                 row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
          FROM d),
        p AS (
          SELECT event_type, max(u) AS uk, count(*)::BIGINT AS n
          FROM r WHERE rn <= 64 GROUP BY 1)
        SELECT event_type,
               round(CASE WHEN n < 64 THEN n::DOUBLE
                          ELSE 63.0 * 1152921504606846976.0 / uk END, 4)
                 AS est_distinct
        FROM p
    """

    sql["rolling_range"] = """
        SELECT event_id, user_id,
               round(avg(value) OVER w, 4) AS roll_avg,
               count(*) OVER w AS roll_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
                     RANGE BETWEEN 1800000000000 PRECEDING AND CURRENT ROW)
    """

    sql["decay_weighted"] = """
        WITH ref AS (SELECT max(epoch_ns(ts)) AS r FROM events)
        SELECT user_id,
               round(sum(value * power(0.5,
                     (r - epoch_ns(ts)) / 86400000000000.0)), 6) AS decayed_sum,
               count(*)::BIGINT AS n_events
        FROM events, ref GROUP BY user_id
    """

    sql["anomaly_zscore"] = """
        WITH z AS (
          SELECT event_id, user_id, value,
                 avg(value) OVER w AS mu,
                 stddev(value) OVER w AS sd,
                 count(*) OVER w AS n
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        SELECT event_id, user_id, value,
               CASE WHEN sd > 0 THEN round((value - mu) / sd, 4) END AS zscore,
               CASE WHEN sd > 0 THEN abs(round((value - mu) / sd, 4)) > 2.0
                    END AS is_anomaly
        FROM z WHERE n = 20
    """

    sql["funnel"] = """
        WITH e AS (
          SELECT user_id, epoch_ns(ts) AS tns, event_type AS et
          FROM events WHERE event_id % 5 < 2),
        w1 AS (
          SELECT user_id, tns, et,
                 min(CASE WHEN et = 'view' THEN tns END)
                   OVER (PARTITION BY user_id) AS t1
          FROM e),
        w2 AS (
          SELECT *, min(CASE WHEN et = 'click' AND tns > t1 THEN tns END)
                      OVER (PARTITION BY user_id) AS t2
          FROM w1),
        w3 AS (
          SELECT *, min(CASE WHEN et = 'purchase' AND tns > t2 THEN tns END)
                      OVER (PARTITION BY user_id) AS t3
          FROM w2),
        u AS (
          SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
          FROM w3 GROUP BY user_id)
        SELECT CASE WHEN t3 IS NOT NULL THEN 3
                    WHEN t2 IS NOT NULL THEN 2
                    WHEN t1 IS NOT NULL THEN 1
                    ELSE 0 END::BIGINT AS funnel_stage,
               count(*)::BIGINT AS n_users
        FROM u GROUP BY 1
    """

    sql["simhash_pairs"] = (
        "WITH " + _NEARDUP_CORPUS_SQL
        + ", sims AS (" + _simhash_sql("corpus") + "), "
        + """
        hexs AS (
          SELECT doc_id, simhash,
                 lpad(lower(to_hex(simhash)), 16, '0') AS hx
          FROM sims),
        bands AS (
          SELECT doc_id, simhash, b, substr(hx, 1 + 4 * b, 4) AS bucket
          FROM hexs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
        capped AS (
          SELECT doc_id, simhash, b, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY b, bucket) AS bsz
            FROM bands)
          WHERE bsz <= 64),
        pairs AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                          x.simhash AS sa, y.simhash AS sb
          FROM capped x JOIN capped y
            ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
        SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
               bit_count(xor(sa, sb))::BIGINT AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= 6
        """
    )

    sql["ngram_containment"] = (
        "WITH " + _NEARDUP_CORPUS_SQL + ", sig AS ("
        + _minhash_sql("corpus")
        + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
        + ", pairs AS ("
        + r"""
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands_c a JOIN bands_c b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), grams AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(t) >= 3 THEN
                     list_transform(generate_series(1, len(t) - 2),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' '))
                   ELSE [array_to_string(t, ' ')] END) AS g
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x <> '') AS t
                FROM corpus))
        SELECT p.id_a::BIGINT AS id_a, p.id_b::BIGINT AS id_b,
               round(CASE WHEN len(ga.g) > 0 THEN
                       len(list_intersect(ga.g, gb.g))::DOUBLE / len(ga.g)
                     ELSE 0.0 END, 6) AS containment_a_in_b,
               round(CASE WHEN len(gb.g) > 0 THEN
                       len(list_intersect(ga.g, gb.g))::DOUBLE / len(gb.g)
                     ELSE 0.0 END, 6) AS containment_b_in_a
        FROM pairs p
        JOIN grams ga ON ga.doc_id = p.id_a
        JOIN grams gb ON gb.doc_id = p.id_b
        """
    )

    sql["quantile_normalize"] = """
        SELECT doc_id, source, n_chars::BIGINT AS score,
               round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars),
                     6) AS qnorm
        FROM documents
    """

    sql["balanced_sample"] = """
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST('0x' || substr(md5('balanced:' || doc_id::VARCHAR),
                                                1, 15) AS BIGINT)) AS rn
          FROM documents)
        WHERE rn <= 50
    """

    sql["curriculum_shards"] = (
        "WITH b AS (SELECT "
        + ", ".join(
            f"quantile_cont(n_chars::DOUBLE, {i / 10}) AS b{i}" for i in range(1, 10)
        )
        + " FROM documents) SELECT doc_id, n_chars::BIGINT AS difficulty, (1 + "
        + " + ".join(f"(n_chars::DOUBLE > b{i})::INT" for i in range(1, 10))
        + ")::BIGINT AS shard FROM documents, b"
    )

    sql["temporal_split"] = """
        WITH e AS (
          SELECT event_id, user_id,
                 count(*) OVER (PARTITION BY user_id) AS n,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_ns(ts) DESC,
                                             event_id DESC) AS r
          FROM events)
        SELECT event_id, user_id,
               CASE WHEN r <= ceil(n * 0.2) THEN 'test' ELSE 'train' END AS split
        FROM e
    """

    sql["robust_scale"] = """
        WITH s AS (
          SELECT source,
                 quantile_cont(n_chars::DOUBLE, 0.25) AS q1,
                 quantile_cont(n_chars::DOUBLE, 0.5) AS q2,
                 quantile_cont(n_chars::DOUBLE, 0.75) AS q3
          FROM documents GROUP BY source)
        SELECT d.doc_id, d.source, d.n_chars::BIGINT AS score,
               CASE WHEN (q3 - q1) > 0
                    THEN round((d.n_chars::DOUBLE - q2) / (q3 - q1), 6)
               END AS scaled
        FROM documents d JOIN s ON d.source = s.source
    """

    sql["lang_confusion"] = (
        "WITH pred AS ("
        + sql["lang_detect"]
        + """)
        SELECT d.lang, p.lang_pred, count(*)::BIGINT AS n_docs
        FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        GROUP BY 1, 2
        """
    )

    sql["inverted_index"] = r"""
        WITH posting AS (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id,
                   unnest(list_filter(
                     string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '')) AS term
            FROM documents)),
        dfc AS (SELECT term, count(*)::BIGINT AS df FROM posting GROUP BY term),
        top AS (SELECT term, df FROM dfc ORDER BY df DESC, term LIMIT 100)
        SELECT p.term, p.doc_id, t.df
        FROM posting p JOIN top t ON p.term = t.term
    """

    sql["corpus_diff"] = """
        WITH oldt AS (SELECT doc_id, md5(text) AS h FROM documents),
        newt AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h
          FROM documents WHERE doc_id % 17 <> 0
          UNION ALL
          SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 23 = 0),
        j AS (
          SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.h AS ho, n.h AS hn
          FROM oldt o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id)
        SELECT doc_id::BIGINT AS doc_id,
               CASE WHEN ho IS NULL THEN 'added'
                    WHEN hn IS NULL THEN 'removed'
                    ELSE 'changed' END AS status
        FROM j
        WHERE ho IS NULL OR hn IS NULL OR ho <> hn
    """

    # -- round-7 additions ---------------------------------------------------
    # (pca_project is rows-only by design: driver-side eigh has no SQL twin)

    _hll_ctes = """
        h{x} AS (
          SELECT {grp} AS g, md5('hll:' || {val}::VARCHAR) AS d FROM events),
        r{x} AS (
          SELECT g, CAST('0x' || substr(d, 1, {bh}) AS BIGINT) AS b,
                 ltrim(substr(d, {bh} + 1, 13), '0') AS s
          FROM h{x}),
        rho{x} AS (
          SELECT g, b,
                 CASE WHEN length(s) = 0 THEN 53
                      ELSE 4 * (13 - length(s)) +
                           CASE WHEN substr(s, 1, 1) = '1' THEN 3
                                WHEN substr(s, 1, 1) IN ('2', '3') THEN 2
                                WHEN substr(s, 1, 1) IN ('4','5','6','7') THEN 1
                                ELSE 0 END + 1
                 END AS rho
          FROM r{x}),
        regs{x} AS (SELECT g, b, max(rho) AS mx FROM rho{x} GROUP BY 1, 2),
        agg{x} AS (
          SELECT g, sum(CAST(power(2.0, 53 - mx) AS BIGINT)) AS z,
                 count(*) AS nb
          FROM regs{x} GROUP BY 1),
        est{x} AS (
          SELECT g, nb,
                 {alpha_mm} / (z / 9007199254740992.0 + ({m} - nb)) AS raw
          FROM agg{x})
    """
    _hll_sel = """
        SELECT g AS scope,
               round(CASE WHEN raw <= {lc_cut} AND ({m} - nb) > 0
                          THEN {m}.0 * ln({m}.0 / ({m} - nb))
                          ELSE raw END, 4) AS est_distinct
        FROM est{x}
    """
    from bun_csv_spark.functions.sketches import _hll_alpha

    _a = dict(x="_a", grp="event_type", val="user_id", bh=2,
              alpha_mm=repr(_hll_alpha(256) * 256 * 256), m=256,
              lc_cut=repr(2.5 * 256))
    _b = dict(x="_b", grp="'all_event_ids'", val="event_id", bh=3,
              alpha_mm=repr(_hll_alpha(4096) * 4096 * 4096), m=4096,
              lc_cut=repr(2.5 * 4096))
    sql["hll_distinct"] = (
        "WITH " + _hll_ctes.format(**_a) + ", " + _hll_ctes.format(**_b)
        + _hll_sel.format(**_a) + " UNION ALL " + _hll_sel.format(**_b)
    )
    # merge-then-estimate == estimate-over-all (max-merge losslessness):
    # the oracle replays the UNDIVIDED estimate, the Spark side computes
    # the sharded merge — their equality is the gate's semantic content
    sql["hll_merge"] = "WITH " + _hll_ctes.format(**_a) + _hll_sel.format(**_a)
    # the streaming path must reproduce the batch estimate EXACTLY
    # (deterministic registers + order-independent max-merge)
    sql["streaming_hll"] = (
        "WITH " + _hll_ctes.format(**_a)
        + _hll_sel.format(**_a).replace("g AS scope", "g AS event_type")
    )

    # incremental_day_pipeline: every estimator replayed over the
    # UNDIVIDED events table — equality with the Spark side's 3-way
    # day-state merge is the merge==single-pass proof for the whole
    # composition. HLL CTEs reused verbatim from hll_distinct (_a:
    # p=8/m=256, group event_type, value user_id); histogram replays
    # quantile_merge's fixed [0,600)x120 domain; CM replays
    # countmin_topk's addressing (depth 4, width 512, salt 'cm').
    _idp_hll = (
        _hll_sel.format(**_a)
        .replace("g AS scope", "g AS event_type")
        .replace("AS est_distinct", "AS est_distinct_users")
    )
    sql["incremental_day_pipeline"] = (
        "WITH " + _hll_ctes.format(**_a) + """,
        base AS (
          SELECT event_type, user_id, value,
                 CAST(floor(value * 100) AS BIGINT) AS v_c
          FROM events),
        ex AS (
          SELECT event_type, count(v_c) AS n, sum(v_c) AS s,
                 min(v_c) AS min_c, max(v_c) AS max_c,
                 sum(v_c * v_c) AS ss
          FROM base GROUP BY 1),
        mom AS (
          SELECT event_type, n::BIGINT AS n, min_c, max_c,
                 floor((s::DOUBLE / n) * 10000)::BIGINT AS mean_c_e4,
                 floor(sqrt(greatest(ss::DOUBLE / n
                                     - (s::DOUBLE / n) * (s::DOUBLE / n),
                                     0.0)) * 10000)::BIGINT AS stddev_c_e4
          FROM ex),
        hist AS (
          SELECT event_type,
                 least(greatest(CAST(floor(value::DOUBLE / 5.0) AS BIGINT),
                                0), 119) AS bin,
                 count(*)::BIGINT AS cnt
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2),
        cum AS (
          SELECT event_type, bin, cnt,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cumc,
                 sum(cnt) OVER (PARTITION BY event_type) AS hn
          FROM hist),
        wq AS (
          SELECT event_type, bin, cnt, cumc, hn, q
          FROM cum, UNNEST([0.5, 0.9]) AS t(q)),
        qcand AS (
          SELECT event_type, q, bin,
                 round(0.0 + (bin + least(greatest(
                         (q * (hn - 1) + 1 - (cumc - cnt)) / cnt, 0.0), 1.0))
                       * 5.0, 6) AS est
          FROM wq WHERE cumc >= q * (hn - 1) + 1),
        qp AS (
          SELECT event_type,
                 max(CASE WHEN q = 0.5 THEN est END) AS p50,
                 max(CASE WHEN q = 0.9 THEN est END) AS p90
          FROM (SELECT event_type, q, min_by(est, bin) AS est
                FROM qcand GROUP BY 1, 2)
          GROUP BY 1),
        cmsk AS (
          SELECT row, col, count(*)::BIGINT AS cnt FROM (
            SELECT t.j AS row,
                   CAST('0x' || substr(md5('cm' || t.j::VARCHAR || ':'
                                           || event_type), 1, 15)
                        AS BIGINT) % 512 AS col
            FROM events, (VALUES (0), (1), (2), (3)) AS t(j))
          GROUP BY 1, 2),
        cmest AS (
          SELECT d.event_type, min(s.cnt)::BIGINT AS est_count_cm
          FROM (SELECT DISTINCT event_type FROM events) d
          CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(j)
          JOIN cmsk s
            ON s.row = t.j
           AND s.col = CAST('0x' || substr(md5('cm' || t.j::VARCHAR || ':'
                                               || d.event_type), 1, 15)
                            AS BIGINT) % 512
          GROUP BY 1),
        hllv AS (""" + _idp_hll + """)
        SELECT m.event_type, m.n, m.min_c, m.max_c, m.mean_c_e4,
               m.stddev_c_e4, h.est_distinct_users, qp.p50, qp.p90,
               c.est_count_cm
        FROM mom m
        JOIN hllv h USING (event_type)
        JOIN qp USING (event_type)
        JOIN cmest c USING (event_type)
    """
    )

    sql["weighted_sample"] = """
        SELECT doc_id, n_chars,
               round(power(
                 (CAST('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 15)
                       AS BIGINT) + 1) / 1152921504606846976.0,
                 1.0 / n_chars), 9) AS sample_key
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
        ORDER BY sample_key DESC, doc_id
        LIMIT 25
    """

    sql["transition_counts"] = """
        WITH s AS (
          SELECT event_type,
                 lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev
          FROM events)
        SELECT prev AS prev_state, event_type AS state,
               count(*)::BIGINT AS n,
               round(count(*)::DOUBLE /
                     sum(count(*)) OVER (PARTITION BY prev), 6) AS prob
        FROM s WHERE prev IS NOT NULL
        GROUP BY prev, event_type
    """

    _dup_span_cte = """
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents),
        grams AS (
          SELECT doc_id, p AS pos,
                 md5(array_to_string(t[p:p+7], ' ')) AS h
          FROM toks, UNNEST(range(1, len(t) - 6)) AS u(p)
          WHERE len(t) >= 8),
        hot AS (SELECT h FROM grams GROUP BY h
                HAVING count(DISTINCT doc_id) >= 2),
        dup AS (SELECT g.doc_id, g.pos, g.pos + 7 AS e
                FROM grams g JOIN hot USING (h)),
        mrk AS (
          SELECT doc_id, pos, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS pme
          FROM dup),
        flg AS (
          SELECT doc_id, pos, e,
                 CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END AS nw
          FROM mrk),
        sp AS (
          SELECT doc_id, pos, e,
                 sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
          FROM flg),
        spans AS (
          SELECT doc_id, min(pos)::BIGINT AS span_start,
                 max(e)::BIGINT AS span_end, count(*)::BIGINT AS n_windows
          FROM sp GROUP BY doc_id, sid)
    """

    sql["dup_spans"] = _dup_span_cte + """
        SELECT doc_id, span_start, span_end, n_windows FROM spans
    """

    sql["dup_span_removal"] = _dup_span_cte + """,
        tok_rows AS (
          SELECT doc_id, unnest(t) AS tok,
                 generate_subscripts(t, 1)::BIGINT AS i
          FROM toks),
        kept AS (
          SELECT tr.doc_id,
                 string_agg(tr.tok, ' ' ORDER BY tr.i) AS txt,
                 count(*) AS n_kept
          FROM tok_rows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = tr.doc_id
              AND tr.i BETWEEN s.span_start AND s.span_end)
          GROUP BY tr.doc_id),
        spanned AS (SELECT DISTINCT doc_id FROM spans)
        SELECT d.doc_id,
               CASE WHEN sp.doc_id IS NULL THEN d.text
                    ELSE coalesce(k.txt, '') END AS clean_text,
               CASE WHEN sp.doc_id IS NULL THEN 0
                    ELSE len(t.t) - coalesce(k.n_kept, 0)
               END::BIGINT AS n_tokens_removed
        FROM documents d
        JOIN toks t ON t.doc_id = d.doc_id
        LEFT JOIN spanned sp ON sp.doc_id = d.doc_id
        LEFT JOIN kept k ON k.doc_id = d.doc_id
    """

    sql["lm_score"] = """
        WITH bg AS (
          SELECT doc_id, substr(text, i, 2) AS bg
          FROM documents, UNNEST(range(1, length(text))) AS u(i)
          WHERE length(text) >= 2),
        dbg AS (
          SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
        model AS (SELECT bg, sum(cnt) AS nbg FROM dbg GROUP BY bg),
        pre AS (
          SELECT substr(bg, 1, 1) AS c1, sum(nbg) AS npre
          FROM model GROUP BY 1),
        vv AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM model),
        probs AS (
          SELECT m.bg, (m.nbg + 0.5) / (p.npre + 0.5 * vv.v) AS p
          FROM model m JOIN pre p ON substr(m.bg, 1, 1) = p.c1, vv),
        sc AS (
          SELECT d.doc_id, sum(d.cnt) AS n_bigrams,
                 sum(d.cnt * ln(p)) / sum(d.cnt) AS lp
          FROM dbg d JOIN probs USING (bg) GROUP BY 1)
        SELECT doc_id, n_bigrams::BIGINT AS n_bigrams,
               round(lp, 6) AS logprob, round(exp(-lp), 4) AS ppx
        FROM sc
    """

    sql["weighted_sample_group"] = """
        WITH s AS (
          SELECT lang, doc_id, n_chars,
                 round(power(
                   (CAST('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 15)
                         AS BIGINT) + 1) / 1152921504606846976.0,
                   1.0 / n_chars), 9) AS sample_key
          FROM documents
          WHERE n_chars IS NOT NULL AND n_chars > 0),
        r AS (
          SELECT *, row_number() OVER (
                   PARTITION BY lang ORDER BY sample_key DESC, doc_id) AS rn
          FROM s)
        SELECT lang, doc_id, n_chars, sample_key FROM r WHERE rn <= 10
    """

    sql["attribution"] = """
        WITH t AS (
          SELECT event_type,
                 last_value(CASE WHEN event_type <> 'purchase'
                                 THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY epoch_ns(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS touch
          FROM events)
        SELECT touch AS touch_state, count(*)::BIGINT AS n_conversions
        FROM t WHERE event_type = 'purchase'
        GROUP BY touch
    """

    sql["quantile_sketch"] = """
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
    """

    sql["retention"] = """
        WITH p AS (
          SELECT user_id, epoch_ns(ts) // 86400000000000 AS per
          FROM events),
        firsts AS (
          SELECT user_id, min(per) AS cohort FROM p GROUP BY user_id),
        activity AS (SELECT DISTINCT user_id, per FROM p),
        matrix AS (
          SELECT f.cohort AS cohort_period,
                 (a.per - f.cohort) AS period_offset,
                 count(*)::BIGINT AS n_active
          FROM activity a JOIN firsts f USING (user_id)
          GROUP BY 1, 2),
        base AS (
          SELECT cohort_period AS c0, n_active AS sz
          FROM matrix WHERE period_offset = 0)
        SELECT m.cohort_period, m.period_offset, m.n_active,
               round(m.n_active / b.sz, 6) AS retention
        FROM matrix m JOIN base b ON m.cohort_period = b.c0
    """

    sql["data_quality"] = """
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
    """

    sql["embedding_covariance"] = """
        WITH prs AS (
          SELECT i, j,
                 embedding[i + 1]::DOUBLE AS vi,
                 embedding[j + 1]::DOUBLE AS vj
          FROM embeddings,
               UNNEST(range(0, 64)) AS a(i),
               UNNEST(range(0, 64)) AS b(j)),
        m AS (
          SELECT i, j, sum(vi * vj) AS sxy, sum(vi) AS sx, sum(vj) AS sy,
                 count(*) AS n
          FROM prs GROUP BY 1, 2)
        SELECT i::BIGINT AS i, j::BIGINT AS j,
               round(sxy / n - (sx / n) * (sy / n), 6) + 0.0 AS cov
        FROM m
    """

    # pca_project (value-hashed since r11): the projection Column fold
    # with the components pinned to the SAME embedding_planes(11,1,2,64)
    # integer literals the Spark gate bakes in, mu = 0 — DuckDB restates
    # each output as a list_dot_product; eigh stays pytest-only
    from bun_csv_spark.operators.dedup import embedding_planes as _eplanes

    _pca_w = _eplanes(11, 1, 2, 64)[0]
    _pca_arrs = [
        "[" + ",".join(str(x) for x in w) + "]::DOUBLE[]" for w in _pca_w
    ]
    sql["pca_project"] = f"""
        SELECT vec_id,
               round(list_dot_product(embedding::DOUBLE[], {_pca_arrs[0]}), 6)
                 + 0.0 AS pc0,
               round(list_dot_product(embedding::DOUBLE[], {_pca_arrs[1]}), 6)
                 + 0.0 AS pc1
        FROM embeddings
    """

    # -- round-10 additions ---------------------------------------------------

    # streaming_kmv: the streamed per-key bottom-64 state must equal the
    # batch bottom-64 over the undivided table (same 'kmv:' md5 stream as
    # kmv_distinct), and the final version must equal the number of
    # micro-batches (event_id % 3 residues) that contained the key —
    # the cross-batch state-carry proof.
    sql["streaming_kmv"] = """
        WITH d AS (
          SELECT DISTINCT event_type,
                 CAST('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 15)
                      AS BIGINT) AS h
          FROM events),
        r AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM d),
        v AS (
          SELECT event_type,
                 count(DISTINCT event_id % 3)::BIGINT AS version
          FROM events GROUP BY 1)
        SELECT r.event_type, r.h, v.version
        FROM r JOIN v USING (event_type)
        WHERE r.rn <= 64
    """

    # multimodal_jpeg_progressive: progressive transmission is lossless
    # over the same quantized coefficients, so the decoded pixels equal
    # the baseline 4:2:0 fixture's EXACTLY — the oracle is the same
    # macroblock arithmetic as multimodal_jpeg_420
    sql["multimodal_jpeg_progressive"] = sql["multimodal_jpeg_420"]

    # incremental_dedup: three pseudo-day folds against the persisted
    # fingerprint store == global first-day-wins dedup over the
    # undivided table (per fingerprint: the store admits it only on its
    # first day, and within that day the min doc_id survives)
    sql["incremental_dedup"] = r"""
        WITH f AS (
          SELECT doc_id, doc_id % 3 AS day,
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
          FROM documents),
        d0 AS (SELECT fp, min(day) AS day FROM f GROUP BY fp),
        kept AS (
          SELECT f.day, min(f.doc_id) AS doc_id, f.fp
          FROM f JOIN d0 ON f.fp = d0.fp AND f.day = d0.day
          GROUP BY f.day, f.fp)
        SELECT day::BIGINT AS day, doc_id::BIGINT AS doc_id, fp
        FROM kept
    """

    # multimodal_video: sampled-frame channel sums restated from
    # (doc_id, frame) arithmetic — clip length nf = 2 + id%3 frames at
    # 40 ms/frame, sampling instants k*50 ms while < nf*40, frame index
    # ts // 40, frame f's macroblock (bx,by) = (id + f*29 + bx*7 +
    # by*13) % 256 constant over 16x16 gray pixels (the JPEG macroblock
    # oracle with a per-frame term)
    sql["multimodal_video"] = """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 4 AS wb, 1 + (doc_id * 3) % 4 AS hb,
                 2 + doc_id % 3 AS nf
          FROM documents),
        k AS (SELECT doc_id, wb, hb, nf,
                     unnest(generate_series(0, 7)) AS k
              FROM d),
        f AS (SELECT doc_id, wb, hb, (k * 50) // 40 AS fidx, k * 50 AS ts
              FROM k WHERE k * 50 < nf * 40),
        bs AS (SELECT doc_id, wb, hb, fidx, ts,
                      unnest(generate_series(0, wb - 1)) AS bx
               FROM f),
        b2 AS (SELECT doc_id, wb, hb, fidx, ts, bx,
                      unnest(generate_series(0, hb - 1)) AS by
               FROM bs)
        SELECT doc_id, fidx::BIGINT AS frame_idx, ts::BIGINT AS frame_ts_ms,
               (wb * 16)::BIGINT AS width, (hb * 16)::BIGINT AS height,
               (sum((doc_id + fidx * 29 + bx * 7 + by * 13) % 256)
                 * 256)::BIGINT AS sum_b,
               (sum((doc_id + fidx * 29 + bx * 7 + by * 13) % 256)
                 * 256)::BIGINT AS sum_g,
               (sum((doc_id + fidx * 29 + bx * 7 + by * 13) % 256)
                 * 256)::BIGINT AS sum_r
        FROM b2 GROUP BY doc_id, fidx, ts, wb, hb
    """

    # incremental_neardup: three pseudo-day folds against the persisted
    # MinHash band store == the global LSH pair set, each pair on
    # max(day_a, day_b), under the PREFIX-cap rule — a (band, bucket)
    # emits only while its CUMULATIVE membership (days <= the fold day)
    # is <= 64; a pair survives if ANY shared bucket was under cap at
    # its emission day (the DISTINCT over the bucket join encodes
    # "any")
    sql["incremental_neardup"] = (
        "WITH " + _NEARDUP_CORPUS_SQL + ", sig AS ("
        + _minhash_sql("corpus")
        + "), bands AS (" + _bands_sql() + """),
        bd AS (
          SELECT doc_id, band, bucket, doc_id % 3 AS day FROM bands),
        cum AS (
          SELECT band, bucket, day,
                 sum(count(*)) OVER (PARTITION BY band, bucket
                                     ORDER BY day) AS cumc
          FROM bd GROUP BY band, bucket, day)
        SELECT DISTINCT greatest(a.day, b.day)::BIGINT AS day,
               a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b
        FROM bd a
        JOIN bd b ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
        JOIN cum ON cum.band = a.band AND cum.bucket = a.bucket
                AND cum.day = greatest(a.day, b.day)
        WHERE cum.cumc <= 64
    """
    )
    # the narrow (xxhash64-long bucket) fold emits the SAME pairs — the
    # bucket is an identity digest of the band vector, so the md5
    # oracle applies verbatim (r16; law in tests/test_round16_ops.py)
    sql["incremental_neardup_narrow"] = sql["incremental_neardup"]

    # r18: the partitioned layout is a pure re-layout of events, so the
    # oracle computes the day-bounded aggregate from the source table
    # directly; DuckDB's naive TIMESTAMP date_trunc matches the gate's
    # timezone-free epoch-day arithmetic
    sql["partitioned_pruned_read"] = """
        SELECT 'd' || strftime(date_trunc('day', ts), '%Y%m%d') AS day,
               event_type,
               count(*)::BIGINT AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        WHERE 'd' || strftime(date_trunc('day', ts), '%Y%m%d')
              BETWEEN 'd20240105' AND 'd20240109'
        GROUP BY 1, 2
    """

    # r18: bucketing is a pure physical re-layout — the oracle is the
    # plain thinned join+aggregate over the source tables
    sql["bucketed_join_agg"] = """
        SELECT (o_custkey % 10)::BIGINT AS cust_bucket,
               count(*)::BIGINT AS n_lines,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(sum(l_quantity), 2) AS sum_qty
        FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey % 97 = 0
        GROUP BY 1
    """

    return sql


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1 pricing summary."""
    return q_tpch_q1(spark, "/root/testdata/sf0.001")
