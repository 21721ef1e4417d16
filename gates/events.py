"""Event and time-series gates over the epoch-nanos events table: windows,
sessions, interval/as-of/range joins, sketches, funnels, retention."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from bun_csv_spark.functions.sketches import (
    _hll_alpha,
    cm_estimate,
    cm_sketch,
    histogram_merge,
    histogram_state,
    histogram_state_quantiles,
    hll_distinct,
    hll_estimate,
    hll_merge,
    hll_registers,
    kmv_distinct,
)
from bun_csv_spark.functions.timefmt import (
    epoch_seconds_to_string,
    ns_div,
    ns_to_ntz_micros,
    ns_to_string,
    ns_truncate,
)
from bun_csv_spark.operators.packing import user_event_sequences
from bun_csv_spark.operators.temporal import (
    asof_join,
    interval_overlap_join,
    range_join_buckets,
)
from bun_csv_spark.operators.timeseries import (
    decay_weighted_sum,
    funnel_stages,
    last_touch_attribution,
    ohlc_resample,
    retention_cohorts,
    rolling_range_stats,
    temporal_holdout_split,
    trailing_zscore,
    transition_counts,
)
from bun_csv_spark.sources.events import read_events

from gates.common import Family, Plan, _HLL_USERS, _hll_ctes, _hll_sel


GATES = Family()


_HLL_EVENT_IDS = dict(x="_b", grp="'all_event_ids'", val="event_id", bh=3,
                      alpha_mm=repr(_hll_alpha(4096) * 4096 * 4096), m=4096,
                      lc_cut=repr(2.5 * 4096))


EVENTS_TUMBLING_SQL = """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*)::BIGINT AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """


@GATES.gate("events_tumbling", EVENTS_TUMBLING_SQL)
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


@GATES.gate("events_sessionize", """
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
    """)
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


SESSION_WINDOW_NATIVE_SQL = """
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


@GATES.gate("session_window_native", SESSION_WINDOW_NATIVE_SQL)
def q_session_window_native(spark, sf_dir):
    """Native session_window operator (gap-merged sessions). Spark closes
    a session when the next event is >= gap away (window end exclusive),
    so the oracle's lag-based rewrite uses >= too. Full microsecond
    precision feeds the gap check."""
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


@GATES.gate("events_pivot", """
        SELECT (user_id % 10)::BIGINT AS bucket,
               count(*) FILTER (WHERE event_type = 'click')::BIGINT AS n_click,
               count(*) FILTER (WHERE event_type = 'view')::BIGINT AS n_view,
               count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS n_signup,
               count(*) FILTER (WHERE event_type = 'error')::BIGINT AS n_error,
               count(*)::BIGINT AS n_total
        FROM events GROUP BY 1
    """)
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


@GATES.gate("json_extract", """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               json_extract_string(props, '$.k')::BIGINT AS k_num
        FROM events
    """)
def q_json_extract(spark, sf_dir):
    """JSON path extraction over the events props column."""
    ev = read_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("long").alias("k_num"),
    )


@GATES.gate("interval_overlap", """
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
    """, Plan(
    # interval-family: bucketed equi-join, never a theta join
    shuffles=3, must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
))
def q_interval_overlap(spark, sf_dir):
    """Interval x interval overlap join (temporal.interval_overlap_join):
    per user, purchase attention windows [ts-30min, ts] overlapping view
    windows [ts-15min, ts]. Bucketed equi-join with arithmetic pair
    dedup — no theta-join; oracle is DuckDB's native range predicate."""
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


@GATES.gate("events_sliding", """
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
    """)
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


@GATES.gate("user_sequences", """
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
    """, Plan(
    # one keyed shuffle into the per-user collect_list
    shuffles=1, must=["ObjectHashAggregate"], must_not=["SortMergeJoin"],
))
def q_user_sequences(spark, sf_dir):
    """Behavioral training sequences: per-user time-ordered event strings
    capped at the most recent 64 — the events→training-data bridge. One
    shuffle on the user key."""
    ev = read_events(spark, sf_dir)
    # micros-truncate the nanos (engines that read the parquet at µs — the
    # oracle included — drop the sub-micro digits; serialize what both see)
    ev = ev.withColumn("ts", F.col("ts") - F.col("ts") % 1000)
    return user_event_sequences(ev, "user_id", "ts", "event_type", max_events=64)


@GATES.gate("asof_join", """
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
    """, Plan(
    # as-of join is union-and-carry: ONE key shuffle for the window (+1 if
    # the final project reorders) — and NEVER a nested-loop/cartesian join
    shuffles=2,
    must=["Window"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
))
def q_asof_join(spark, sf_dir):
    """As-of join (beyond the reference, SURVEY §2.3 'no as-of joins'):
    each purchase is attributed to the user's nearest prior-or-equal
    click, via the union-and-carry pattern (one shuffle, no theta-join).
    Oracle: DuckDB's native ASOF LEFT JOIN."""
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


@GATES.gate("range_join", """
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT p.event_id, p.user_id, count(c.user_id)::BIGINT AS n_clicks
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        GROUP BY p.event_id, p.user_id
    """, Plan(shuffles=4, must_not=["CartesianProduct", "BroadcastNestedLoopJoin"]))
def q_range_join(spark, sf_dir):
    """Bounded range join (beyond the reference): clicks falling in the 30
    minutes before each purchase, via bucketed interval join (fan-out
    bounded by interval/bucket width — no theta-join)."""
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


@GATES.gate("kmv_distinct", """
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
    """, Plan(
    # the keyed window never degrades to a single-partition global
    # window (the r4 operator batch's rule for every keyed window);
    # +1 exchange r9: the (group, hash-bucket) pre-rank that bounds the
    # final per-group window at prune_buckets*k rows (hot-group safety)
    shuffles=3, must=["WindowGroupLimit"], must_not=["SinglePartition"],
))
def q_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-user sketch per event type, k=64.
    Unlike HLL (whose register layouts differ per engine), the md5-KMV
    estimate is bit-reproducible — the sketch itself is oracle-checked,
    not just the exact fallback (functions/sketches.py)."""
    return kmv_distinct(read_events(spark, sf_dir), ["event_type"], "user_id", k=64)


@GATES.gate("rolling_range", """
        SELECT event_id, user_id,
               round(avg(value) OVER w, 4) AS roll_avg,
               count(*) OVER w AS roll_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
                     RANGE BETWEEN 1800000000000 PRECEDING AND CURRENT ROW)
    """, Plan(shuffles=1, must=["Window"], must_not=["SinglePartition"]))
def q_rolling_range(spark, sf_dir):
    """Trailing 30-minute event-TIME window (RANGE on epoch nanos): per
    user, mean + count of value over the last half hour at each event."""
    return rolling_range_stats(read_events(spark, sf_dir))


@GATES.gate("decay_weighted", """
        WITH ref AS (SELECT max(epoch_ns(ts)) AS r FROM events)
        SELECT user_id,
               round(sum(value * power(0.5,
                     (r - epoch_ns(ts)) / 86400000000000.0)), 6) AS decayed_sum,
               count(*)::BIGINT AS n_events
        FROM events, ref GROUP BY user_id
    """, Plan(shuffles=2, must=["BroadcastExchange"], must_not=["SortMergeJoin"]))
def q_decay_weighted(spark, sf_dir):
    """Per-user exponential time-decay engagement: sum(value * 0.5^(age/
    1 day)) with age from the corpus max timestamp (1-row broadcast)."""
    return decay_weighted_sum(read_events(spark, sf_dir))


@GATES.gate("anomaly_zscore", """
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
    """, Plan(shuffles=1, must=["Window"], must_not=["SinglePartition"]))
def q_anomaly_zscore(spark, sf_dir):
    """Anomaly flags: z-score of each event's value vs the TRAILING 20
    events of the same user (current row excluded)."""
    return trailing_zscore(read_events(spark, sf_dir))


@GATES.gate("funnel", """
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
    """, Plan(shuffles=2, must_not=["SinglePartition"]))
def q_funnel(spark, sf_dir):
    """Ordered conversion funnel view -> click -> purchase: stage N
    counts only strictly after the first completion of stage N-1. Run
    over a deterministic 40% event subset so the stages discriminate
    (the full stream converts everyone). Output: users per final stage."""
    ev = read_events(spark, sf_dir).filter((F.col("event_id") % 5) < 2)
    out = funnel_stages(ev)
    return out.groupBy("funnel_stage").agg(F.count(F.lit(1)).alias("n_users"))


@GATES.gate("temporal_split", """
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
    """, Plan(shuffles=1, must=["Window"], must_not=["SinglePartition"]))
def q_temporal_split(spark, sf_dir):
    """Leakage-free per-user temporal split: each user's last 20% of
    events (by event time) held out as test."""
    return temporal_holdout_split(read_events(spark, sf_dir))


@GATES.gate("hll_distinct", (
    "WITH " + _hll_ctes.format(**_HLL_USERS) + ", " + _hll_ctes.format(**_HLL_EVENT_IDS)
    + _hll_sel.format(**_HLL_USERS) + " UNION ALL " + _hll_sel.format(**_HLL_EVENT_IDS)
), Plan(
    # two branches x (register max-agg + estimate agg); both map-side
    # combined, per-group shuffle state <= m register rows
    shuffles=4, must=["HashAggregate"], must_not=["Window", "SinglePartition"],
))
def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct counts (md5 registers, exact
    integer register sums — engine-portable, unlike approx_count_distinct):
    per-event-type distinct users at p=8 (exercises the linear-counting
    branch) unioned with the global distinct event-id estimate at p=12
    (the raw-estimator branch)."""
    ev = read_events(spark, sf_dir)
    by_type = hll_distinct(ev, ["event_type"], "user_id", p=8).select(
        F.col("event_type").alias("scope"), "est_distinct"
    )
    glob = hll_distinct(
        ev.withColumn("__g", F.lit("all_event_ids")), ["__g"], "event_id", p=12
    ).select(F.col("__g").alias("scope"), "est_distinct")
    return by_type.unionByName(glob)


@GATES.gate("transition_counts", """
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
    """, Plan(
    # lag window on the entity key + STATE^2 aggs; never a global window
    shuffles=3, must=["Window"], must_not=["SinglePartition", "CartesianProduct"],
))
def q_transition_counts(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: (prev_state, state) counts + out-of-state probabilities —
    one lag window (single keyed shuffle) + STATE^2-sized aggregates."""
    return transition_counts(read_events(spark, sf_dir))


@GATES.gate("attribution", """
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
    """, Plan(
    # one keyed window shuffle + the tiny touch-state aggregate
    shuffles=2, must=["Window"], must_not=["SinglePartition", "CartesianProduct"],
))
def q_attribution(spark, sf_dir):
    """Last-touch conversion attribution: each purchase credited to the
    user's most recent preceding non-purchase event via one
    last(ignorenulls) keyed window — the as-of union-and-carry shape."""
    return last_touch_attribution(read_events(spark, sf_dir))


# merge-then-estimate == estimate-over-all (max-merge losslessness):
# the oracle replays the UNDIVIDED estimate, the Spark side computes
# the sharded merge — their equality is the gate's semantic content
@GATES.gate(
    "hll_merge",
    "WITH " + _hll_ctes.format(**_HLL_USERS) + _hll_sel.format(**_HLL_USERS),
    Plan(
        # per-shard register aggs + union-max merge + estimate agg — keyed
        # hash aggs only, register state bounds every shuffle
        shuffles=4, must=["HashAggregate"], must_not=["Window", "SinglePartition"],
    ),
)
def q_hll_merge(spark, sf_dir):
    """Mergeable-sketch proof gate: events split into two shards
    (event_id parity), per-shard HLL register tables merged (union +
    per-register max), then estimated — by max-merge losslessness this
    EQUALS the whole-corpus estimate, which is what the oracle replays
    over the undivided table."""
    ev = read_events(spark, sf_dir)
    a = hll_registers(ev.filter(F.col("event_id") % 2 == 0), ["event_type"], "user_id")
    b = hll_registers(ev.filter(F.col("event_id") % 2 == 1), ["event_type"], "user_id")
    merged = hll_merge(a, b, key_cols=["event_type"])
    return hll_estimate(merged, ["event_type"]).select(
        F.col("event_type").alias("scope"), "est_distinct"
    )


@GATES.gate("retention", """
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
    """, Plan(
    # firsts agg + distinct-activity agg + entity-key join + bounded
    # matrix agg + cohort-size broadcast back
    shuffles=6,
    must=["BroadcastHashJoin"],
    must_not=["CartesianProduct", "SinglePartition"],
))
def q_retention(spark, sf_dir):
    """Daily cohort retention triangle over events: cohort = period of
    first activity, per-offset active counts + retention rates — two
    entity-keyed aggregates and a bounded cohort-size broadcast."""
    return retention_cohorts(read_events(spark, sf_dir))


@GATES.gate("countmin_topk", """
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
    """, Plan(
    # sketch build (bounded map-side combine) + distinct + exact agg +
    # broadcast sketch lookup + TakeOrdered — no global sort
    shuffles=10,
    must=["TakeOrderedAndProject", "BroadcastExchange"],
    must_not=["CartesianProduct", "GlobalSort"],
))
def q_countmin_topk(spark, sf_dir):
    """Count-min frequency sketch over events.user_id: bounded 4x512
    counter table (shuffle volume independent of data size), then
    min-over-rows point estimates for every user joined to exact counts
    — top 20 by estimate. est_count >= exact_count always (collisions
    only inflate)."""
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


@GATES.gate("ohlc_resample", """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, printf('%020d|%020d', epoch_ns(ts), event_id)) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, printf('%020d|%020d', epoch_ns(ts), event_id)) AS close,
               count(*)::BIGINT AS n_events
        FROM events GROUP BY 1, 2
    """, Plan(
    # ONE combinable aggregate, partial+final pair only, no Window. The
    # strict-ties string key forces SortAggregate (per-task sort, still
    # one exchange) — the documented cost of tie determinism; pass
    # strict_ties=False for the HashAggregate fast path
    shuffles=2, must=["SortAggregate"], must_not=["Window", "CartesianProduct"],
))
def q_ohlc_resample(spark, sf_dir):
    """Hourly OHLC candlesticks per event type: open/high/low/close from
    ONE hash aggregate (min_by/max_by over a total-order key — no sort,
    no window, deterministic under timestamp ties)."""
    return ohlc_resample(read_events(spark, sf_dir))


@GATES.gate("quantile_merge", """
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
    """)
def q_quantile_merge(spark, sf_dir):
    """Sharded quantile pipeline with FIXED-domain histogram states:
    events split into two shards, each reduced to a <=120-counter state,
    merged by plain counter sum, per-event-type p50/p90/p99 estimated
    from the merged state — the persistable/mergeable quantile analogue
    of hll_merge and cm_merge (oracle = undivided histogram: equality
    IS the merge proof)."""
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
