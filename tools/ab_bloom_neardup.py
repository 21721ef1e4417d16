"""A/B: incremental_neardup_update with vs without the Bloom store-side
pre-prune (the r12 twin of tools/ab_bloom_increment.py), at the
100x-docs scale point by default.

Setup mirrors the exact-dedup A/B: the corpus replays as three
pseudo-days (doc_id % 3); days 0 and 1 fold once to build the band
store (~2/3 of the corpus' band rows), then the DAY-2 fold is timed
bloom-off vs bloom-on (best-of-3 after a warmup, fresh store copy per
variant). Besides wall, the tool reports the number the scale argument
rests on: how many STORE band rows survive the (band, bucket) bloom and
reach the candidate join. The honest crossover rule from the exact
twin applies here too: below the point where the store dwarfs the day,
the plain union wins — the bitmap build + probe is pure overhead when
history is only 2 days deep; the prune exists for the multi-YEAR store
whose scan otherwise dominates the fold.

Usage: python tools/ab_bloom_neardup.py [mult]   # default 100
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    from bun_csv_spark.operators.dedup import (
        _band_buckets,
        incremental_neardup_update,
        load_fingerprint_store,
    )
    from bun_csv_spark.operators.maintenance import bloom_semi_join
    from bun_csv_spark.session import get_spark
    from tools.scale_docs import _dir, generate

    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_spark("ab_bloom_nd", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.isdir(_dir(mult)):
        generate(spark, mult)
    docs = spark.read.parquet(
        os.path.join(_dir(mult), "documents.parquet")
    ).select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism

    base = f"/tmp/ab_bloom_nd_store_{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    seed = f"{base}/seed"
    for d in (0, 1):
        incremental_neardup_update(
            spark, docs.filter(F.col("doc_id") % 3 == d), seed, d,
            repartition=par,
        ).count()
    day2 = docs.filter(F.col("doc_id") % 3 == 2)
    store = load_fingerprint_store(spark, seed)
    n_store = store.count()

    # m = 16x today's distinct (band, bucket) count -> ~0.1% FP at k=3
    today_bk = _band_buckets(
        day2, "doc_id", "text", 8, 4, 5, par
    ).select(
        F.concat_ws("|", F.col("band").cast("string"), F.col("bucket")).alias(
            "__bk"
        )
    )
    m_bits = 16 * today_bk.distinct().count()

    results = {}
    for tag, bits in (("plain", None), ("bloom", m_bits)):
        best, rows = float("inf"), None
        for i in range(4):  # first run = warmup
            d = f"{base}/{tag}_{i}"
            shutil.copytree(seed, d)
            t0 = time.time()
            rows = incremental_neardup_update(
                spark, day2, d, 2, repartition=par, bloom_bits=bits
            ).count()
            if i:
                best = min(best, time.time() - t0)
        results[tag] = (best, rows)
        print(f"{tag:>6}: {best:.3f}s  day-2 pairs={rows}", flush=True)
    assert results["plain"][1] == results["bloom"][1], "bloom changed the result!"

    bk = F.concat_ws("|", F.col("band").cast("string"), F.col("bucket"))
    pruned = bloom_semi_join(
        store.select(bk.alias("__bk")), today_bk, "__bk", m_bits=m_bits
    ).count()
    print(
        f"store band rows reaching the candidate join: {n_store} -> {pruned} "
        f"({100.0 * pruned / n_store:.2f}%)  [m_bits={m_bits}]"
    )
    shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
