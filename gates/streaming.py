"""Gates that run the real Structured Streaming engine over a replayed
events source and drain the result into a static table."""

from __future__ import annotations

from pyspark.sql import functions as F

from bun_csv_spark.functions.sketches import hll_estimate, hll_registers
from bun_csv_spark.functions.timefmt import ns_to_ntz, ns_to_ntz_micros
from bun_csv_spark.sources.events import read_events
from bun_csv_spark.streaming.windows import (
    run_stream_to_table,
    stage_phased_replay,
    stateful_user_counts,
    stream_static_enrich,
    stream_stream_join,
    streaming_dedup,
    streaming_kmv_state,
)

from gates.common import Family, Plan, _HLL_USERS, _hll_ctes, _hll_sel, _scratch_dir, _t
from gates.events import EVENTS_TUMBLING_SQL, SESSION_WINDOW_NATIVE_SQL


GATES = Family()


@GATES.gate("streaming_join", """
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS click_id, user_id, ts FROM events
                   WHERE event_type = 'click')
        SELECT p.event_id, c.click_id, p.user_id,
               (epoch_us(p.ts) - epoch_us(c.ts))::BIGINT AS gap_us
        FROM p JOIN c ON p.user_id = c.user_id
          AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
          AND epoch_us(c.ts) <= epoch_us(p.ts)
    """)
def q_streaming_join(spark, sf_dir):
    """REAL stream-stream inner join: purchases and clicks are two
    filtered streams off the same replayed source, joined per user with a
    1-hour lookback range over watermarked event time (the range is what
    bounds the join state — without it both sides buffer forever).
    Append mode, availableNow; oracle = the identical batch join at
    microsecond precision (epoch_us)."""
    import os as _os

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


@GATES.gate("streaming_enrich", """
        WITH p AS (SELECT user_id, value FROM events
                   WHERE event_type = 'purchase')
        SELECT c.c_mktsegment,
               count(*)::BIGINT AS n_purchases,
               round(sum(p.value), 2) AS total_value
        FROM p LEFT JOIN customer c ON p.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
    """, Plan(
    # batch result of a real micro-batch run: a collected LocalTableScan
    # (the streaming plan itself is exercised in tests/test_streaming*)
    shuffles=0, must=["LocalTableScan"], must_not=["Exchange"],
))
def q_streaming_enrich(spark, sf_dir):
    """REAL stream-static enrichment: the replayed event stream joins the
    STATIC customer dimension per micro-batch (stateless — no watermark),
    then aggregates spend per market segment. Oracle = the same batch
    join+agg."""
    import os as _os

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


@GATES.gate("streaming_tumbling", EVENTS_TUMBLING_SQL)
def q_streaming_tumbling(spark, sf_dir):
    """REAL Structured Streaming: replay events.parquet through readStream,
    hourly tumbling counts, drained synchronously to a memory sink. The
    oracle is the same SQL as the batch query — streaming and batch must
    agree (complete mode, availableNow trigger)."""
    import os as _os

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


@GATES.gate("streaming_session", SESSION_WINDOW_NATIVE_SQL)
def q_streaming_session(spark, sf_dir):
    """Session windows on the REAL streaming engine (watermarked, update
    mode, availableNow) — must match the batch session_window oracle."""
    import os as _os

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


# replays the three-batch watermark trajectory (empirically pinned —
# see q_streaming_watermark): batches = even ids, ids%4==1, ids%4==3.
# The late filter for batch 2 uses wm1 = ms-floored max(batch-0 ts)
# minus 1h and drops whole windows (window.end <= wm1); batches 0/1
# drop nothing (their filter watermark is still epoch 0). Append mode
# emits a window once its end passes the final watermark
# wmF = ms-floored max(all ts) - 1h; later windows never emit.
@GATES.gate("streaming_watermark", """
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
    """)
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


# dropDuplicatesWithinWatermark with a watermark spanning the replay
# keeps exactly one row per key -> the distinct key set
@GATES.gate("streaming_dedup", """
        SELECT DISTINCT user_id, event_type FROM events
    """)
def q_streaming_dedup(spark, sf_dir):
    """REAL streaming dedup: dropDuplicatesWithinWatermark over the events
    replay. The watermark delay (30 days) exceeds the dataset's time span,
    so no state expires mid-replay and the surviving set is exactly the
    distinct keys — which row survives is processing-order-dependent, so
    only the key columns are returned (that set IS deterministic)."""
    import os as _os

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


# the stateful operator's final per-user state equals the batch agg
@GATES.gate("streaming_stateful", """
        SELECT user_id, count(*)::BIGINT AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY user_id
    """)
def q_streaming_stateful(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState) on the
    REAL engine: per-user running count + value sum. The final state per
    user equals the batch aggregate; max_by picks each user's last
    emitted row, so the gate holds even if the replay splits into
    multiple micro-batches."""
    import os as _os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")

    def transform(stream):
        return stateful_user_counts(stream.select("user_id", "value"))

    out = run_stream_to_table(spark, path, transform, output_mode="update", normalize_ts=True)
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("sum_value", "n_events"), 2).alias("sum_value"),
    )


# the streaming path must reproduce the batch estimate EXACTLY
# (deterministic registers + order-independent max-merge)
@GATES.gate("streaming_hll", (
    "WITH " + _hll_ctes.format(**_HLL_USERS)
    + _hll_sel.format(**_HLL_USERS).replace("g AS scope", "g AS event_type")
))
def q_streaming_hll(spark, sf_dir):
    """REAL Structured Streaming sketch maintenance: events replayed
    through readStream, HLL register state updated as a streaming
    aggregate (state bounded at keys x 2^p rows), estimate computed from
    the drained register table. Because the md5 registers are
    deterministic and max-merge is order-independent, the streamed
    estimate must equal the batch estimate EXACTLY — which is what the
    oracle checks."""
    import os as _os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _os.path.join(sf_dir, "events.parquet")

    def transform(stream):
        return hll_registers(stream, ["event_type"], "user_id", p=8)

    regs = run_stream_to_table(spark, path, transform, output_mode="complete")
    return hll_estimate(regs, ["event_type"], p=8).select(
        "event_type", "est_distinct"
    )


# streaming_kmv: the streamed per-key bottom-64 state must equal the
# batch bottom-64 over the undivided table (same 'kmv:' md5 stream as
# kmv_distinct), and the final version must equal the number of
# micro-batches (event_id % 3 residues) that contained the key —
# the cross-batch state-carry proof.
@GATES.gate("streaming_kmv", """
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
    """)
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
