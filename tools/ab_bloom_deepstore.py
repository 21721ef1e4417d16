"""Bloom prune at YEAR-CLASS store depth: the deep-store A/B (r14
verdict ask #3 — replace the one remaining extrapolation in the scale
story with a measurement).

The r14 high-entropy replay measured the words-layout prune at store =
15x a day (1.08x) and projected the deep-store regime from the
0.19-0.35 s per M store rows slope (~2.4x at a year-deep ~730M-row
store). This tool MEASURES that regime directly at >= 2 depths without
paying 100+ real folds: the store is PRE-GROWN synthetically and only
the A/B day's fold is real.

Why pre-growing is honest: the band store holds (doc_id, band,
bucket-md5-hex) digests only — the fold never re-reads historical
text, so the only thing history contributes to the A/B is parquet
bytes of the right schema, size, bucket-cardinality profile, and
true-overlap fraction with today. Those are mirrored exactly from
tools/ab_bloom_highentropy.day_docs_highentropy's semantics:

- docs come in 25-doc blocks; a block is RECURRING (seed=0, identical
  text every day => identical minhash => identical buckets) iff
  pmod(xxhash64(block, 11), 20) == 0 (~5%), else NOVEL (seed=day+1,
  2^64-vocabulary tokens => globally unique buckets);
- a RECURRING doc's text is a pure function of its within-day id
  (seed=0 and the perturbation tokens key on the within-day id), so
  its real band buckets are identical on every day: the recurring
  subset is banded through the REAL _band_buckets ONCE (~5% of a day,
  cheap) and replicated across history days with day-shifted doc_ids
  — so today's recurring docs find their true bucket overlap with
  history, bit-for-bit as a replayed store would give;
- a NOVEL doc's buckets are globally unique by construction (2^64
  vocabulary), so they join nothing and only their count/dtype matter:
  synthesized as md5(gid|seed|band) — same dtype, same ~4 x docs
  per-day cardinality, zero collisions, exactly like the real thing.

The A/B day itself (banding, commit, bloom build, store scan + prune +
candidate join) runs the REAL incremental_neardup_update against the
pre-grown partitions, off vs on, best-of-2 per mode, alternating —
identical protocol to the replay's checkpoints. Pair counts are
asserted identical (bloom has no false negatives). The one departure
from a fully-replayed store: history carries no torn/over-cap
pathology beyond what the generator plants — the same is true of the
replayed stores.

Usage: python tools/ab_bloom_deepstore.py [depths_csv] [docs_per_day]
       (defaults: depths 30,100 — brackets the verdict's 50-70M-row
        sufficiency point and its ~100x-day ask — 500_000 docs/day)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

PARAMS = {"n_hashes": 8, "bands": 4, "shingle_k": 5}


def _recurring_pred(i):
    """The generator's recurring-block predicate on a WITHIN-DAY id
    (day_docs_highentropy: block id hashed with salt 11, 1-in-20).
    The generator routes plants through `base` first, but
    floor(base/25) == floor(i/25) for every id (a plant's base is in
    its own block), so the block id is just i/25 — kept as the direct
    form; tests/test_round15_tools.py pins equality against the
    generator so drift in ab_bloom_highentropy cannot silently
    desynchronize this copy."""
    return F.pmod(F.xxhash64((i / 25).cast("long"), F.lit(11)), F.lit(20)) == 0


def real_recurring_rows(spark, n: int):
    """(i, band, bucket) — the REAL banding of the recurring subset,
    keyed by within-day id. Day-invariant (seed=0 text + within-day-id
    perturbation keys), so one banding serves every history day."""
    from bun_csv_spark.operators.dedup import _band_buckets
    from tools.ab_bloom_highentropy import day_docs_highentropy

    # day 0's gid == within-day id; filter to recurring blocks
    docs0 = day_docs_highentropy(spark, 0, n).filter(
        _recurring_pred(F.col("doc_id"))
    )
    rows = _band_buckets(
        docs0, "doc_id", "text", PARAMS["n_hashes"], PARAMS["bands"],
        PARAMS["shingle_k"], None,
    ).withColumnRenamed("doc_id", "i")
    rows.cache().count()
    return rows


def synth_day_rows(spark, day: int, n: int, recurring_rows):
    """The (doc_id, band, bucket) rows the real banding of
    day_docs_highentropy(day, n) would commit: recurring docs carry
    their REAL (replicated) buckets, novel docs synthetic unique ones
    (see module docstring)."""
    i = F.col("id")
    gid = (F.lit(day) * n + i).cast("long")
    seed = F.lit(day + 1)
    bands_arr = F.transform(
        F.sequence(F.lit(0), F.lit(PARAMS["bands"] - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(
                F.concat_ws(
                    "|", gid.cast("string"), seed.cast("string"),
                    b.cast("string"),
                )
            ).alias("bucket"),
        ),
    )
    novel = (
        spark.range(0, n, 1, 32)
        .filter(~_recurring_pred(i))
        .select(gid.alias("doc_id"), F.explode(bands_arr).alias("bk"))
        .select(
            "doc_id",
            F.col("bk.band").alias("band"),
            F.col("bk.bucket").alias("bucket"),
        )
    )
    recur = recurring_rows.select(
        (F.lit(day) * n + F.col("i")).cast("long").alias("doc_id"),
        "band",
        "bucket",
    )
    return novel.unionByName(recur)


def main() -> int:
    from bun_csv_spark.operators.dedup import _check_store_params, incremental_neardup_update
    from bun_csv_spark.session import get_spark
    from tools.ab_bloom_highentropy import day_docs_highentropy

    depths = [int(x) for x in (sys.argv[1] if len(sys.argv) > 1 else "30,100").split(",")]
    per_day = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    spark = get_spark("ab_bloom_deep", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    store = f"/tmp/ab_bloom_deep_store_{os.getpid()}"
    shutil.rmtree(store, ignore_errors=True)
    import atexit

    # the store is tens of GB at year-class depths: an exception mid-run
    # (the first 730M attempt died ENOSPC in the commit fold) must not
    # leak it — os._exit below skips finally blocks, so atexit + the
    # explicit rmtree cover both exits
    atexit.register(lambda: shutil.rmtree(store, ignore_errors=True))
    _check_store_params(spark, store, PARAMS)  # writes _PARAMS
    print(f"depths={depths} per_day={per_day} store={store}", flush=True)

    recurring_rows = real_recurring_rows(spark, per_day)
    grown = 0
    for depth in sorted(depths):
        t0 = time.time()
        for d in range(grown, depth):
            synth_day_rows(
                spark, d, per_day, recurring_rows
            ).write.mode("overwrite").parquet(f"{store}/day={d}")
        grown = depth
        ab_day = depth  # fold day `depth` against depth committed days
        st = spark.read.parquet(store)
        n_hist = st.count()
        print(
            f"depth {depth}: store grown to {n_hist} rows "
            f"({time.time() - t0:.1f}s gen)",
            flush=True,
        )
        docs = day_docs_highentropy(spark, ab_day, per_day)
        # one committing fold first (the A/B re-folds are idempotent
        # overwrites of this partition, exactly the replay's protocol),
        # which also warms the page cache for both modes equally
        t0 = time.time()
        n0 = incremental_neardup_update(
            spark, docs, store, ab_day, repartition=par
        ).count()
        print(f"  commit fold: {time.time() - t0:.1f}s pairs={n0}", flush=True)
        # one distinct over today's committed partition serves both the
        # bitmap sizing and the coverage probe (was two full scans)
        today_b = (
            spark.read.parquet(f"{store}/day={ab_day}")
            .select("band", "bucket")
            .distinct()
            .cache()
        )
        m_bits = 16 * today_b.count()
        # coverage probe: fraction of history rows whose bucket is
        # touched by today (the crossover rule's other input)
        hist = spark.read.parquet(store).filter(F.col("day") < ab_day)
        n_cov = hist.join(today_b, ["band", "bucket"], "left_semi").count()
        today_b.unpersist()
        print(
            f"  coverage: {n_cov}/{n_hist} ({100 * n_cov / max(n_hist, 1):.2f}%) "
            f"m_bits={m_bits}",
            flush=True,
        )
        best, counts = {}, {}
        for rep in range(2):
            for tag, bits in (("off", None), ("on", m_bits)):
                t0 = time.time()
                n = incremental_neardup_update(
                    spark, docs, store, ab_day, repartition=par, bloom_bits=bits
                ).count()
                w = time.time() - t0
                best[tag] = min(best.get(tag, float("inf")), w)
                counts[tag] = n
                print(f"  rep{rep} {tag}: {w:.1f}s pairs={n}", flush=True)
        assert counts["off"] == counts["on"], "bloom changed the result!"
        # drop the A/B day so the next depth's history is synthetic-only
        shutil.rmtree(f"{store}/day={ab_day}", ignore_errors=True)
        print(
            f"A/B depth {depth} ({n_hist} store rows): off={best['off']:.1f}s "
            f"on={best['on']:.1f}s speedup={best['off'] / best['on']:.2f}x",
            flush=True,
        )
        spark.sparkContext._jvm.System.gc()
    shutil.rmtree(store, ignore_errors=True)
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
