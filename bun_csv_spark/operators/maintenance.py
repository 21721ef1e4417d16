"""Table-maintenance operators for large-scale pipelines: CDC changelog
apply, Bloom-filter semi-join pruning, Z-order keys.

Extension surface beyond the reference (its data model is a single parsed
file; a 100 TB corpus is a living table). Three patterns every production
lakehouse needs, each expressed as pure DataFrame plans:

- ``apply_changelog``: merge a CDC stream (upserts + deletes, versioned)
  into a snapshot — the MERGE INTO shape without engine write support.
- ``bloom_semi_join``: filter a huge probe side against a build-side key
  set using a broadcastable bitmap instead of shuffling the probe for a
  semi-join. False positives are DETERMINISTIC (md5-derived bit
  positions), so results are exactly reproducible and oracle-checkable.
- ``zorder_value``: interleave quantized column bits into a
  space-filling-curve key; sorting by it co-locates rows that are close
  in BOTH dimensions, so min/max file skipping prunes multi-dimensional
  predicates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def apply_changelog(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
    version_col: str = "version",
    op_col: str = "op",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a CDC changelog to a snapshot: latest change per key wins;
    ``op='D'`` deletes, anything else upserts the change row's columns.

    DETERMINISM CONTRACT: ``(key, version_col, op_col)`` must be unique in
    the changelog — two changes sharing all three would get an arbitrary
    ``row_number`` winner (run- and engine-dependent). Feeds that can
    violate it (e.g. at-least-once CDC taps emitting same-version updates)
    must pass ``tiebreak_cols`` — columns appended (descending) to the
    winner ordering to make it total.

    Plan: one window over the changelog (keyed shuffle on the CHANGELOG
    only — typically a small fraction of the snapshot), then a left-anti
    join of the snapshot against touched keys plus a union of surviving
    upserts. The snapshot shuffles once on the key for the anti join; at
    scale, bucket both tables by the key and the anti join goes
    exchange-free (operators.bucketing). Changes columns must cover the
    snapshot columns (+ version/op, which are dropped).
    """
    from pyspark.sql import Window

    order = [F.col(version_col).desc(), F.col(op_col)]
    order += [F.col(c).desc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(key).orderBy(*order)
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    touched = latest.select(key)
    survivors = latest.filter(F.col(op_col) != "D").select(*snapshot.columns)
    return snapshot.join(touched, key, "left_anti").unionByName(survivors)


BLOOM_BITS_DEFAULT = 1 << 16  # 64 Kbit
# 60 bits per bitmap word, not 64: 1<<59 stays positive in every engine,
# while 1<<63 wraps negative in Java/Spark and overflows in DuckDB — the
# oracle must replay the exact same words
BLOOM_WORD_BITS = 60


def _bloom_positions(
    c: Column, k: int, m_bits: int, salt: str, hash_fn: str = "md5"
) -> list[Column]:
    """k md5-derived bit positions in [0, m_bits) from ONE md5 per value:
    the 32-hex digest splits into k disjoint 10-hex (40-bit) chunks, each
    an independent uniform position (k <= 3). One hash instead of k is
    the difference between the md5 dominating a 20M-row probe scan and
    not. Engine-portable: the same substr/CAST arithmetic restates in
    DuckDB SQL."""
    if hash_fn == "xxhash64":
        # the production hash: JVM-codegen'd, ~an order of magnitude
        # cheaper than md5 on a wide probe scan — but NOT restatable in
        # DuckDB SQL, so the oracle gate pins the md5 path and the
        # xxhash64 path is verified by no-false-negative tests
        return [
            F.pmod(F.xxhash64(F.lit(f"{salt}{j}"), c), F.lit(m_bits)).cast("long")
            for j in range(k)
        ]
    if k > 3:
        raise ValueError("one 128-bit md5 yields at most 3 40-bit chunks")
    digest = F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string")))
    return [
        F.conv(F.substring(digest, 1 + 10 * j, 10), 16, 10).cast("long") % m_bits
        for j in range(k)
    ]


def _one_shl(n: Column) -> Column:
    """1 << n for a COLUMN shift amount (F.shiftleft only takes an int
    literal). pow(2.0, n) is EXACT for n <= 59 — every power of two is a
    representable double — which is the other reason words are 60 bits."""
    return F.pow(F.lit(2.0), n.cast("double")).cast("long")


def bloom_build(
    build: DataFrame,
    key: str,
    k: int = 3,
    m_bits: int = BLOOM_BITS_DEFAULT,
    salt: str = "bloom",
    hash_fn: str = "md5",
) -> DataFrame:
    """Build-side bitmap: (word_idx, word) rows, word = OR of
    1<<(pos % 60) over every key's k positions. At most m_bits/60 rows
    regardless of build size — always broadcastable."""
    pos = F.explode(
        F.array(*_bloom_positions(F.col(key), k, m_bits, salt, hash_fn))
    ).alias("__pos")
    w = BLOOM_WORD_BITS
    return (
        build.select(pos)
        .groupBy(F.floor(F.col("__pos") / w).cast("long").alias("word_idx"))
        .agg(F.bit_or(_one_shl(F.col("__pos") % w)).alias("word"))
    )


#: map-layout cliff: Spark's element_at on a (non-literal) map is a
#: LINEAR key scan over ArrayBasedMapData, so a 1-row map bitmap costs
#: O(words) per probe — measured r14: m_bits=30M (500k words) made a
#: 26M-row probe 7x SLOWER than no prune at all (~250 us per lookup).
#: Above this word count the words-table layout (broadcast HASH join,
#: O(1) per probe) is forced.
BLOOM_MAP_MAX_BITS = 1 << 20


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    k: int = 3,
    m_bits: int = BLOOM_BITS_DEFAULT,
    salt: str = "bloom",
    hash_fn: str = "md5",
    layout: str | None = None,
) -> DataFrame:
    """Semi-join ``probe`` against ``build``'s key set through a Bloom
    bitmap: keeps every matching row plus a DETERMINISTIC set of false
    positives (md5 positions — bit-identical across engines and runs).

    Two physical layouts, auto-selected by m_bits:

    - ``layout="map"`` (small bitmaps, <= BLOOM_MAP_MAX_BITS): the
      bitmap collapses to ONE row (a word_idx->word map, <= m_bits/60
      entries) broadcast onto the probe — all k membership tests are
      map lookups in a single codegen'd filter. CAUTION: element_at on
      a map is a LINEAR key scan in Spark, so this layout's per-probe
      cost is O(words) — fine at the 64 Kbit default (~1k words),
      catastrophic at multi-Mbit sizes (the r14 finding: a 30 Mbit map
      made the prune 7x slower than no prune).
    - ``layout="words"`` (large bitmaps): the (word_idx, word) rows
      broadcast as a TABLE and each of the k probes is a broadcast
      HASH equi-join on word_idx — O(1) per probe, still zero probe
      shuffles, and the k joins of the same build side collapse to one
      broadcast (exchange reuse). This is the 100 TB layout.

    Either way the probe side never shuffles (a real semi-join shuffles
    both sides on the key). Use it to pre-prune 100 TB scans down to
    candidate rows before an exact join.

    SIZE m_bits TO THE BUILD SIDE: FP rate is (1-e^{-kn/m})^k — about
    0.1% at m=16n bits (k=3), but 22% at m=3n (measured: 20k keys in the
    64 Kbit default). And know when NOT to use it: if the build side
    broadcasts anyway, the engine's own broadcast semi-join is both exact
    and faster — bloom wins in the regime where the KEYS don't fit a
    broadcast but the BITMAP does (measured datapoint in SCALE.md).
    """
    if layout is None:
        layout = "map" if m_bits <= BLOOM_MAP_MAX_BITS else "words"
    bitmap = bloom_build(build, key, k, m_bits, salt, hash_fn)
    positions = _bloom_positions(F.col(key), k, m_bits, salt, hash_fn)
    w = BLOOM_WORD_BITS
    if layout == "words":
        out = probe
        pos_cols = [f"__bp{j}" for j in range(k)]
        for c, pos in zip(pos_cols, positions):
            out = out.withColumn(c, pos)
        for j, c in enumerate(pos_cols):
            wrd = bitmap.select(
                F.col("word_idx").alias(f"__wi{j}"),
                F.col("word").alias(f"__bw{j}"),
            )
            # inner hash join: a probe whose word is absent has that
            # bit unset by definition — dropping it IS the bloom test
            out = (
                out.join(
                    F.broadcast(wrd),
                    F.floor(F.col(c) / w).cast("long") == F.col(f"__wi{j}"),
                )
                .filter(
                    F.col(f"__bw{j}").bitwiseAND(_one_shl(F.col(c) % w)) != 0
                )
                .drop(f"__wi{j}", f"__bw{j}")
            )
        return out.drop(*pos_cols)
    one = bitmap.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word_idx", "word"))
        ).alias("__bloom")
    )
    cond = F.lit(True)
    for pos in positions:
        word = F.coalesce(
            F.element_at(F.col("__bloom"), F.floor(pos / w).cast("long")),
            F.lit(0).cast("long"),
        )
        cond = cond & (word.bitwiseAND(_one_shl(pos % w)) != 0)
    return probe.crossJoin(F.broadcast(one)).filter(cond).drop("__bloom")


def zorder_value(
    a: Column | str,
    b: Column | str,
    a_min: float,
    a_max: float,
    b_min: float,
    b_max: float,
    bits: int = 16,
) -> Column:
    """Interleave ``bits`` quantized bits of two columns into a Z-curve
    key (a's bits at even positions). Pure integer Column arithmetic —
    codegen'd, shuffle-free; quantization bounds are plan literals
    (compute once with a 1-row agg, or use known domain bounds).

    Sorting/partitioning by this key clusters rows close in BOTH
    dimensions into the same files, so per-file min/max skipping prunes
    2-D predicates — the standard lakehouse OPTIMIZE ZORDER BY shape."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    scale = (1 << bits) - 1

    def quant(c, lo, hi):
        unit = (c.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
        clamped = F.greatest(F.lit(0.0), F.least(F.lit(1.0), unit))
        return F.floor(clamped * scale).cast("long")

    qa, qb = quant(ca, a_min, a_max), quant(cb, b_min, b_max)
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(qa, i) % 2
        bbit = F.shiftright(qb, i) % 2
        z = z + F.shiftleft(abit, 2 * i) + F.shiftleft(bbit, 2 * i + 1)
    return z


def agg_state(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """Mergeable per-key aggregate state: (n, sum, min, max, sum_sq).

    The partial-aggregation algebra made explicit: states from disjoint
    batches MERGE (``merge_agg_states``) into exactly the state of the
    union, so a daily 100 TB ingest re-aggregates only the delta and
    merges — never recomputes history. Exactly Spark's own map-side
    partial-agg shape, persisted."""
    c = F.col(value)
    return df.groupBy(*keys).agg(
        F.count(c).alias("n"),
        F.sum(c).alias("sum"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.sum(c * c).alias("sum_sq"),
    )


def merge_agg_states(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two agg states (outer on keys — either side may have new
    keys). Every column merges with its own combine rule; the result is
    bit-identical to ``agg_state`` over the concatenated inputs for the
    integer/decimal columns (float sums are subject to the same
    reassociation any distributed agg performs)."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.sum("sum_sq").alias("sum_sq"),
        )
    )


def finalize_agg_state(state: DataFrame, scale: int = 10_000) -> DataFrame:
    """State -> final metrics: mean and POPULATION stddev (the reference's
    stddev semantics, aggregates.py) computed from the merged moments.

    Outputs fixed-point longs (floor(x * scale)): the state casts to
    double in one fixed op order, and floor-of-scaled is pure IEEE — so
    any engine replaying the same ops lands on the same integers.
    round() would NOT be safe here: Spark rounds the shortest decimal
    representation HALF_UP while DuckDB rounds the scaled double, and
    they disagree on .xxxx5 ties (observed 3/1500 keys)."""
    # decimal division rounding rules differ across engines; IEEE double
    # ops do not — cast once, then only double arithmetic
    mean = F.col("sum").cast("double") / F.col("n")
    var = F.col("sum_sq").cast("double") / F.col("n") - mean * mean
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return state.select(
        *[c for c in state.columns if c not in ("sum", "sum_sq")],
        F.floor(mean * scale).cast("long").alias("mean_e4"),
        F.floor(sd * scale).cast("long").alias("stddev_pop_e4"),
    )


def skew_profile(
    df: DataFrame, key: str, top: int = 10
) -> DataFrame:
    """Join-key skew diagnosis: the ``top`` heaviest keys with their row
    counts, share of the table, and the skew factor vs a uniform spread
    (count / (rows/distinct_keys)). Feed the hot keys into
    ``operators.skew.salted_aggregate`` or AQE skew-join thresholds.

    One groupBy shuffle + a TakeOrdered for the top slice; totals ride
    along as 1-row broadcast aggregates — nothing corpus-sized reaches
    the driver."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("__rows"), F.count(F.lit(1)).alias("__keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            key,
            "cnt",
            F.round(F.col("cnt") / F.col("__rows"), 6).alias("frac"),
            F.round(
                F.col("cnt") * F.col("__keys") / F.col("__rows"), 4
            ).alias("skew_factor"),
        )
        .orderBy(F.col("cnt").desc(), F.col(key))
        .limit(top)
    )


def scd2_build(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 from a change stream: every
    change row becomes a VERSIONED dimension row with
    ``eff_from`` (its own timestamp), ``eff_to`` (the next change's
    timestamp for the same key, NULL while current), ``version``
    (1-based per key), and ``is_current`` — the classic warehouse shape
    point-in-time joins consume (pair with operators.temporal.asof_join
    to resolve facts against it).

    ONE keyed window (lead + row_number over the same spec) — a single
    shuffle on the dimension key, no self-join, cost scales with
    changes per key, not history length. Ordering is made total with
    ``tiebreak_col`` so same-timestamp changes version deterministically
    on any engine (same contract as apply_changelog)."""
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*order)
    return changes.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("eff_from"),
        F.lead(ts_col).over(w).alias("eff_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead(ts_col).over(w).isNull().alias("is_current"),
    )


# --- incremental daily-state pipeline ---------------------------------------


def pipeline_state_build(
    df: DataFrame,
    keys: "list[str]",
    value_col: str,
    distinct_col: str,
    lo: float,
    hi: float,
    n_bins: int = 120,
    cm_depth: int = 4,
    cm_width: int = 512,
    kmv_k: "int | None" = None,
) -> "dict[str, DataFrame]":
    """Build the mergeable state families for one shard/day in one pass
    each: exact per-key moments (``agg_state``), per-key distinct
    counts (``hll_registers``), fixed-domain value histograms
    (``histogram_state``), and key-frequency counters (``cm_sketch``).
    ``kmv_k`` adds a FIFTH optional family: per-key KMV bottom-k states
    (``kmv_state_by`` over ``distinct_col``) — unlike the HLL register
    family (counts only), KMV states support SET ALGEBRA after the
    fact: overlap/Jaccard between any two days, key groups, or the
    union-so-far, from the persisted states alone. Every state is
    bounded (per key / 2^p registers / n_bins counters / depth*width
    counters / k rows per key) and merges exactly with another shard's
    state — the algebra the ``incremental_day_pipeline`` gate proves.

    ``value_col`` should be integer-exact (e.g. fixed-point long) if the
    merged moments must be bit-identical to a single pass — double sums
    reassociate."""
    from bun_csv_spark.functions.sketches import (
        cm_sketch,
        histogram_state,
        hll_registers,
        kmv_state_by,
    )

    out = {
        "agg": agg_state(df, keys, value_col),
        "hll": hll_registers(df, keys, distinct_col),
        "hist": histogram_state(df, value_col, lo, hi, n_bins, keys),
        "cm": cm_sketch(df, keys[0], cm_depth, cm_width),
    }
    if kmv_k:
        out["kmv"] = kmv_state_by(df, keys, distinct_col, k=kmv_k)
    return out


def pipeline_state_merge(
    a: "dict[str, DataFrame]",
    b: "dict[str, DataFrame]",
    keys: "list[str]",
    kmv_k: "int | None" = None,
) -> "dict[str, DataFrame]":
    """Merge two pipeline states family-by-family with each family's own
    combine rule (moment sums / register max / counter sums / counter
    sums / per-key bottom-k). Associative and input-order-free, so any
    grouping of daily shards produces the identical state. ``kmv_k``
    must be passed (same k as the build) when the states carry the
    optional KMV family."""
    from bun_csv_spark.functions.sketches import (
        cm_merge,
        histogram_merge,
        hll_merge,
        kmv_merge_by,
    )

    out = {
        "agg": merge_agg_states(a["agg"], b["agg"], keys),
        "hll": hll_merge(a["hll"], b["hll"], key_cols=keys),
        "hist": histogram_merge(a["hist"], b["hist"], key_cols=keys),
        "cm": cm_merge(a["cm"], b["cm"]),
    }
    if "kmv" in a or "kmv" in b:
        if not kmv_k:
            raise ValueError("states carry a kmv family; pass kmv_k to merge it")
        if "kmv" not in a or "kmv" not in b:
            raise ValueError("one side is missing the kmv family — rebuild it")
        out["kmv"] = kmv_merge_by(a["kmv"], b["kmv"], group_cols=keys, k=kmv_k)
    return out


_STATE_FAMILIES = ("agg", "hll", "hist", "cm")
# the kmv family's salt is fixed in the pipeline path (pipeline_state_build
# calls kmv_state_by with its default) — recorded in each generation's
# _FAMILIES metadata and validated on merge/load so a state built with one
# hash stream is never merged with another
_STATE_KMV_SALT = "kmv"


def _state_fs(spark, state_dir: str):
    """(Hadoop FileSystem, Path ctor) for ``state_dir`` — resolves the
    scheme (file:, hdfs:, s3a:, a bare local path) through the session's
    Hadoop conf so every marker/listing/prune op below works on any
    cluster filesystem, not just driver-local POSIX."""
    jvm = spark._jvm
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(state_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path_cls


def _read_small_file(fs, path, limit: int = 64) -> str:
    stream = fs.open(path)
    try:
        out = []
        b = stream.read()
        while b != -1 and len(out) < limit:
            out.append(b)
            b = stream.read()
        return bytes(out).decode("utf-8", "replace")
    finally:
        stream.close()


def _write_small_file(fs, path, text: str) -> None:
    out = fs.create(path, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def _gen_meta(spark, state_dir: str, n: int) -> "dict | None":
    """The ``gen=N/_FAMILIES`` metadata written at the START of each
    generation's build: the intended family list plus the kmv family's
    (k, salt). None for generations written before the metadata existed
    (legacy dirs fall back to directory inspection)."""
    import json as _json

    fs, path_cls = _state_fs(spark, state_dir)
    p = path_cls(f"{state_dir}/gen={n}/_FAMILIES")
    if not fs.exists(p):
        return None
    try:
        return _json.loads(_read_small_file(fs, p, limit=512))
    except ValueError:
        return None


def _gen_is_complete(spark, state_dir: str, n: int) -> bool:
    """A generation counts as complete only when EVERY family it was
    meant to carry has a committed ``_SUCCESS``. The intent list comes
    from ``_FAMILIES`` (written before any family data, so a crash
    mid-write of the LAST family still leaves the intent on disk) —
    that is what keeps a torn kmv write + lost marker from silently
    serving kmv-less state while an older intact generation exists.
    LEGACY generations (no ``_FAMILIES``) keep the pre-metadata rule —
    the four core families committed — because tightening it
    retroactively would mark a dir's ONLY generation incomplete over a
    stray torn subdirectory and send the next update down the
    bootstrap-overwrite path, destroying real history."""
    fs, path_cls = _state_fs(spark, state_dir)
    meta = _gen_meta(spark, state_dir, n)
    if meta is not None:
        families = meta.get("families", list(_STATE_FAMILIES))
    else:
        families = list(_STATE_FAMILIES)
    return all(
        fs.exists(path_cls(f"{state_dir}/gen={n}/{fam}/_SUCCESS"))
        for fam in families
    )


def _complete_generations(spark, state_dir: str) -> "list[int]":
    """Generations under ``state_dir`` whose family writes ALL committed
    (``_SUCCESS`` present for every intended family, kmv included) — the
    marker-independent source of truth a corrupt/missing
    ``_GENERATION`` falls back to."""
    fs, path_cls = _state_fs(spark, state_dir)
    base = path_cls(state_dir)
    if not fs.exists(base):
        return []
    gens = []
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("gen=")):
            continue
        try:
            n = int(name[4:])
        except ValueError:
            continue
        if _gen_is_complete(spark, state_dir, n):
            gens.append(n)
    return sorted(gens)


def current_generation(spark, state_dir: str) -> "int | None":
    """The generation the next update should merge onto: the
    ``_GENERATION`` marker if readable and pointing at a COMPLETE
    generation, else the highest complete ``gen=N`` directory (so a
    crash that lost or truncated the marker — or died between family
    writes, including a torn write of the kmv family — recovers to the
    last durable state without manual repair). None = bootstrap."""
    fs, path_cls = _state_fs(spark, state_dir)
    marker = path_cls(f"{state_dir}/_GENERATION")
    if fs.exists(marker):
        try:
            gen = int(_read_small_file(fs, marker).strip())
        except ValueError:
            gen = None
        if gen is not None and _gen_is_complete(spark, state_dir, gen):
            return gen
    complete = _complete_generations(spark, state_dir)
    return complete[-1] if complete else None


def daily_state_update(
    spark,
    day_df: DataFrame,
    state_dir: str,
    keys: "list[str]",
    value_col: str,
    distinct_col: str,
    lo: float,
    hi: float,
    n_bins: int = 120,
    cm_depth: int = 4,
    cm_width: int = 512,
    keep_generations: int = 2,
    kmv_k: "int | None" = None,
) -> "dict[str, DataFrame]":
    """The nightly-job API: fold TODAY's shard into the persisted state
    under ``state_dir`` and write the updated state back. First call
    bootstraps the directory. Each call costs ONE scan of the new day
    plus a state-sized merge — history is never re-read (measured 1.73x
    at history/day=2, SCALE.md "Round-8 measured datapoints" @ ca55360;
    the advantage grows linearly with history).

    Cluster-portable durability: every marker/listing/delete goes
    through the Hadoop FileSystem resolved from ``state_dir``'s scheme,
    so ``file:``, ``hdfs://`` and ``s3a://`` state dirs all work. Each
    update stages into a fresh ``gen=N+1`` directory, then swings the
    ``_GENERATION`` pointer via write-temp + rename (atomic on HDFS /
    POSIX; on stores without atomic rename the completeness scan below
    is the real recovery path). A crash at ANY point recovers: mid
    family-write leaves gen N+1 without ``_SUCCESS`` markers and the
    pointer on N; a lost or truncated pointer falls back to the highest
    COMPLETE generation (``current_generation``). The newest
    ``keep_generations`` generations are retained (>=1 previous for
    rollback by default); older ones are pruned so state disk use is
    bounded. Delivery must be exactly-once per day (counter sums are not
    idempotent — dedupe the day upstream, same caveat as
    histogram_merge). ``kmv_k`` carries the optional per-key KMV
    bottom-k family through build, merge, and persistence (use the SAME
    k every day; a state dir bootstrapped without it cannot grow the
    family later — its history is already gone — so that raises)."""
    import json as _json

    today = pipeline_state_build(
        day_df, keys, value_col, distinct_col, lo, hi, n_bins, cm_depth,
        cm_width, kmv_k=kmv_k,
    )
    families = list(today)
    state_dir = state_dir.rstrip("/")
    gen = current_generation(spark, state_dir)
    if gen is not None:
        fs, path_cls = _state_fs(spark, state_dir)
        has_kmv = fs.exists(path_cls(f"{state_dir}/gen={gen}/kmv/_SUCCESS"))
        if kmv_k and not has_kmv:
            raise ValueError(
                "state dir has no kmv family — its history cannot be "
                "reconstructed from the other families; rebuild the state "
                "from raw days with kmv_k set"
            )
        if has_kmv and not kmv_k:
            # the reverse direction: dropping kmv_k against a dir that
            # carries the family would write a kmv-less generation and
            # generation pruning would then destroy the history
            raise ValueError(
                "state dir carries a kmv family; pass kmv_k (same k as "
                "the build) or its history is silently lost"
            )
        meta = _gen_meta(spark, state_dir, gen)
        if kmv_k and meta is not None:
            rec_k, rec_salt = meta.get("kmv_k"), meta.get("kmv_salt")
            if rec_k is not None and rec_k != kmv_k:
                raise ValueError(
                    f"state dir's kmv family was built with k={rec_k}, "
                    f"got kmv_k={kmv_k} — merging would truncate states "
                    "and skew every estimate"
                )
            if rec_salt is not None and rec_salt != _STATE_KMV_SALT:
                raise ValueError(
                    f"state dir's kmv family uses salt={rec_salt!r}, this "
                    f"build uses {_STATE_KMV_SALT!r} — hash streams differ"
                )
        prev = {
            fam: spark.read.parquet(f"{state_dir}/gen={gen}/{fam}")
            for fam in families
        }
        merged = pipeline_state_merge(prev, today, keys, kmv_k=kmv_k)
        new_gen = gen + 1
    else:
        merged = today
        new_gen = 1
    fs, path_cls = _state_fs(spark, state_dir)
    # declare the generation's intended families (and the kmv hash
    # parameters) BEFORE any family data lands: a crash mid-write of any
    # family — even the last one — leaves a generation that fails the
    # completeness scan instead of masquerading as a kmv-less state
    fs.mkdirs(path_cls(f"{state_dir}/gen={new_gen}"))
    _write_small_file(
        fs,
        path_cls(f"{state_dir}/gen={new_gen}/_FAMILIES"),
        _json.dumps(
            {
                "families": families,
                "kmv_k": kmv_k,
                "kmv_salt": _STATE_KMV_SALT if kmv_k else None,
            }
        ),
    )
    for fam in families:
        merged[fam].write.mode("overwrite").parquet(
            f"{state_dir}/gen={new_gen}/{fam}"
        )
    tmp = path_cls(f"{state_dir}/_GENERATION.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(str(new_gen).encode()))
    finally:
        out.close()
    marker = path_cls(f"{state_dir}/_GENERATION")
    if fs.exists(marker):
        fs.delete(marker, False)
    fs.rename(tmp, marker)
    if keep_generations >= 1:
        for old in _complete_generations(spark, state_dir):
            if old <= new_gen - keep_generations:
                fs.delete(path_cls(f"{state_dir}/gen={old}"), True)
    return {
        fam: spark.read.parquet(f"{state_dir}/gen={new_gen}/{fam}")
        for fam in families
    }


def load_pipeline_state(spark, state_dir: str) -> "dict[str, DataFrame]":
    """Read-only load of a state dir's CURRENT generation — the
    consumer half of ``daily_state_update`` (dashboards, overlap
    pre-flights, finalize_agg_state reports read state without writing
    a new generation). Returns the four core families plus ``kmv`` when
    the dir carries it; raises on an empty/unreadable dir."""
    state_dir = state_dir.rstrip("/")
    gen = current_generation(spark, state_dir)
    if gen is None:
        raise ValueError(f"no complete generation under {state_dir}")
    fs, path_cls = _state_fs(spark, state_dir)
    meta = _gen_meta(spark, state_dir, gen)
    if meta is not None:
        families = list(meta.get("families", _STATE_FAMILIES))
    else:
        families = list(_STATE_FAMILIES)
        if fs.exists(path_cls(f"{state_dir}/gen={gen}/kmv/_SUCCESS")):
            families.append("kmv")
    return {
        fam: spark.read.parquet(f"{state_dir}/gen={gen}/{fam}")
        for fam in families
    }
