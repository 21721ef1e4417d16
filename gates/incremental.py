"""Incremental and maintenance gates: CDC merge, bloom semi-join, z-order
keys, mergeable aggregate states, day-over-day dedup stores, SCD2 and the
daily-maintenance composition."""

from __future__ import annotations

from pyspark.sql import functions as F

from bun_csv_spark.functions.sketches import (
    cm_estimate,
    histogram_state,
    histogram_state_quantiles,
    hll_estimate,
)
from bun_csv_spark.operators.dedup import (
    incremental_dedup_update,
    incremental_neardup_fold_days,
)
from bun_csv_spark.operators.maintenance import (
    agg_state,
    apply_changelog,
    bloom_semi_join,
    finalize_agg_state,
    merge_agg_states,
    pipeline_state_build,
    pipeline_state_merge,
    scd2_build,
    skew_profile,
    zorder_value,
)
from bun_csv_spark.sources.events import read_events

from gates.common import (
    Family,
    Plan,
    _HLL_USERS,
    _bands_sql,
    _hll_ctes,
    _hll_sel,
    _minhash_sql,
    _neardup_corpus,
    _NEARDUP_CORPUS_SQL,
    _scratch_dir,
    _t,
)


GATES = Family()


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


# incremental_day_pipeline: every estimator replayed over the
# UNDIVIDED events table — equality with the Spark side's 3-way
# day-state merge is the merge==single-pass proof for the whole
# composition. HLL CTEs reused verbatim from hll_distinct (_a:
# p=8/m=256, group event_type, value user_id); histogram replays
# quantile_merge's fixed [0,600)x120 domain; CM replays
# countmin_topk's addressing (depth 4, width 512, salt 'cm').
_idp_hll = (
    _hll_sel.format(**_HLL_USERS)
    .replace("g AS scope", "g AS event_type")
    .replace("AS est_distinct", "AS est_distinct_users")
)


@GATES.gate(
    "cdc_apply",
    _cdc_apply_sql(),
    Plan(
        # one window shuffle on the changelog + one key shuffle for the anti
        # join side
        shuffles=3, must=["Window"], must_not=["CartesianProduct", "SinglePartition"],
    ),
)
def q_cdc_apply(spark, sf_dir):
    """CDC changelog merge (operators.maintenance.apply_changelog): the
    MERGE INTO shape — latest change per key wins, deletes drop, upserts
    replace/insert. Oracle rebuilds the same changelog and applies the
    same semantics via window + anti-join SQL."""
    snap = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    return apply_changelog(snap, _cdc_changes(spark, sf_dir), "c_custkey")


@GATES.gate(
    "bloom_semi",
    _bloom_semi_sql(),
    Plan(
        # bloom probe: the bitmap collapses to a 1-row map broadcast
        # (bounds-broadcast pattern); the only Exchanges are the tiny bitmap
        # build aggs — the probe side never shuffle-joins
        shuffles=2, must=["BroadcastNestedLoopJoin"], must_not=["SortMergeJoin"],
    ),
)
def q_bloom_semi(spark, sf_dir):
    """Bloom-filter semi-join pre-prune (operators.maintenance): orders
    filtered against rich customers' key set through a broadcastable
    md5-position bitmap — map-only on the probe side, DETERMINISTIC false
    positives the oracle replays bit-for-bit."""
    probe = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    build = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return bloom_semi_join(probe, build, "o_custkey")


@GATES.gate(
    "zorder_keys",
    _zorder_keys_sql(),
    Plan(
        # pure codegen bit interleave: zero shuffles
        shuffles=0, must_not=["Exchange"],
    ),
)
def q_zorder_keys(spark, sf_dir):
    """Z-order clustering key (operators.maintenance.zorder_value):
    8-bit interleave of (o_custkey, o_totalprice) — the OPTIMIZE ZORDER
    BY key as a pure codegen expression; oracle restates the bit
    interleave arithmetically."""
    z = zorder_value("o_custkey", "o_totalprice", 0, 150_000, 0, 600_000, bits=8)
    return _t(spark, sf_dir, "orders").select("o_orderkey", z.alias("zval"))


# one-shot aggregate over everything — the merged two-batch state
# must land on exactly this (decimal state is associative; the final
# double arithmetic replays finalize_agg_state's op order)
@GATES.gate("incremental_agg", """
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
    """, Plan(
    # two batch states + merge: keyed hash aggs only, no global window
    shuffles=4,
    must=["HashAggregate"],
    must_not=["CartesianProduct", "SinglePartition", "Window"],
))
def q_incremental_agg(spark, sf_dir):
    """Incremental re-aggregation (operators.maintenance.agg_state):
    split orders into two batches, compute mergeable per-key states
    independently, MERGE, finalize — must equal a direct aggregate over
    everything. Decimal sums keep the state exact (associative), so the
    merged result is bit-identical to the oracle's one-shot aggregate."""
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


@GATES.gate("skew_profile", """
        WITH c AS (SELECT event_type, count(*)::BIGINT AS cnt FROM events
                   GROUP BY event_type),
        t AS (SELECT sum(cnt)::BIGINT AS rows_, count(*)::BIGINT AS keys_ FROM c)
        SELECT event_type, cnt,
               round(cnt / rows_, 6) AS frac,
               round(cnt * keys_ / rows_, 4) AS skew_factor
        FROM c, t
        ORDER BY cnt DESC, event_type
        LIMIT 10
    """, Plan(
    # groupBy + 1-row totals broadcast + TakeOrdered top slice
    shuffles=3, must=["TakeOrderedAndProject"], must_not=["SortMergeJoin"],
))
def q_skew_profile(spark, sf_dir):
    """Join-key skew diagnosis (operators.maintenance.skew_profile): the
    heaviest events keys with share + skew factor vs uniform — the
    pre-flight check that decides salting / AQE skew-join thresholds."""
    ev = read_events(spark, sf_dir)
    return skew_profile(ev, "event_type", top=10)


# incremental_dedup: three pseudo-day folds against the persisted
# fingerprint store == global first-day-wins dedup over the
# undivided table (per fingerprint: the store admits it only on its
# first day, and within that day the min doc_id survives)
@GATES.gate("incremental_dedup", r"""
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
    """)
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


# incremental_neardup: three pseudo-day folds against the persisted
# MinHash band store == the global LSH pair set, each pair on
# max(day_a, day_b), under the PREFIX-cap rule — a (band, bucket)
# emits only while its CUMULATIVE membership (days <= the fold day)
# is <= 64; a pair survives if ANY shared bucket was under cap at
# its emission day (the DISTINCT over the bucket join encodes
# "any")
_INCREMENTAL_NEARDUP_SQL = (
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


@GATES.gate("incremental_neardup", _INCREMENTAL_NEARDUP_SQL)
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


# the narrow (xxhash64-long bucket) fold emits the SAME pairs — the
# bucket is an identity digest of the band vector, so the md5
# oracle applies verbatim (r16; law in tests/test_round16_ops.py)
@GATES.gate("incremental_neardup_narrow", _INCREMENTAL_NEARDUP_SQL)
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


@GATES.gate("scd2_build", """
        SELECT user_id, event_type, value,
               epoch_ns(ts) AS eff_from,
               lead(epoch_ns(ts)) OVER w AS eff_to,
               row_number() OVER w AS version,
               (lead(epoch_ns(ts)) OVER w IS NULL) AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
    """)
def q_scd2_build(spark, sf_dir):
    """SCD Type 2 dimension build from the events change stream: each
    user's events become versioned rows with eff_from/eff_to/version/
    is_current — ONE keyed window, no self-join. The warehouse shape
    asof_join resolves facts against."""
    ev = read_events(spark, sf_dir)
    return scd2_build(
        ev, ["user_id"], "ts", ["event_type", "value"], tiebreak_col="event_id"
    )


@GATES.gate("incremental_day_pipeline", (
    "WITH " + _hll_ctes.format(**_HLL_USERS) + """,
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
), Plan(
    # four mergeable families built per day and merged: every shuffle
    # carries bounded STATE (per-key moments / registers / bins /
    # counters), never raw rows twice; final joins are over <= |keys|
    # rows; no global window, no cartesian anywhere
    shuffles=24,
    must=["HashAggregate"],
    must_not=["CartesianProduct", "SinglePartition"],
))
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
