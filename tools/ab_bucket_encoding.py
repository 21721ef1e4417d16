"""Narrow (xxhash64-long) vs md5-hex band-store bucket encoding at
100x-day depth — the r15 verdict's named remaining dedup-scale lever
(SCALE.md r15: the pruned year-deep fold is store-SCAN-dominated, so
bytes per store row are the cost; a long bucket is 8 bytes vs a
32-char string).

Protocol (the ab_bloom_deepstore machinery, once per encoding): grow a
synthetic 100-day store — recurring blocks banded through the REAL
``_band_buckets`` with the encoding under test, novel blocks
synthesized with the matching dtype (md5 hex string / xxhash64 long;
globally unique either way, they join nothing) — then fold the REAL
day-100 docs through the REAL ``incremental_neardup_update`` with
``bucket_encoding`` set, bloom off AND on, best-of-2 alternating.
Asserts: pair COUNT and an order-insensitive pair CHECKSUM
(sum of xxhash64(id_a, id_b)) are identical across encodings — the
bucket is an identity digest of the band vector, so the candidate set
must not depend on the encoding (law also pinned small in
tests/test_round16_ops.py).

Reports per encoding: store bytes on disk, fold walls off/on.

Usage: python tools/ab_bucket_encoding.py [depth=100] [docs_per_day=500000]
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tools.ab_bloom_deepstore import (  # noqa: E402
    PARAMS,
    _recurring_pred,
)


def real_recurring_rows_enc(spark, n: int, encoding: str):
    from bun_csv_spark.operators.dedup import _band_buckets
    from tools.ab_bloom_highentropy import day_docs_highentropy

    docs0 = day_docs_highentropy(spark, 0, n).filter(
        _recurring_pred(F.col("doc_id"))
    )
    rows = _band_buckets(
        docs0, "doc_id", "text", PARAMS["n_hashes"], PARAMS["bands"],
        PARAMS["shingle_k"], None, bucket_encoding=encoding,
    ).withColumnRenamed("doc_id", "i")
    rows.cache().count()
    return rows


def synth_day_rows_enc(spark, day: int, n: int, recurring_rows, encoding: str):
    """ab_bloom_deepstore.synth_day_rows with an encoding-matched novel
    bucket: md5 hex string or xxhash64 long — both globally unique by
    construction (the novel vocabulary is 2^64), so they join nothing
    and only bytes/dtype matter."""
    i = F.col("id")
    gid = (F.lit(day) * n + i).cast("long")
    seed = F.lit(day + 1)
    if encoding == "xxhash64":
        bucket_of = lambda b: F.xxhash64(gid, seed, b)  # noqa: E731
    else:
        bucket_of = lambda b: F.md5(  # noqa: E731
            F.concat_ws(
                "|", gid.cast("string"), seed.cast("string"),
                b.cast("string"),
            )
        )
    bands_arr = F.transform(
        F.sequence(F.lit(0), F.lit(PARAMS["bands"] - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"), bucket_of(b).alias("bucket")
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


def _du_bytes(path: str) -> int:
    out = subprocess.run(
        ["du", "-sb", path], capture_output=True, text=True, check=True
    )
    return int(out.stdout.split()[0])


def main() -> int:
    from bun_csv_spark.operators.dedup import (
        _check_store_params,
        incremental_neardup_update,
    )
    from bun_csv_spark.session import get_spark
    from tools.ab_bloom_highentropy import day_docs_highentropy

    depth = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    per_day = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    spark = get_spark("ab_bucket_enc", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    import atexit

    stores = {}
    for enc in ("md5", "xxhash64"):
        stores[enc] = f"/tmp/ab_bucket_enc_{enc}_{os.getpid()}"
        shutil.rmtree(stores[enc], ignore_errors=True)
        atexit.register(
            lambda s=stores[enc]: shutil.rmtree(s, ignore_errors=True)
        )
    print(f"depth={depth} per_day={per_day}", flush=True)

    results = {}
    docs = day_docs_highentropy(spark, depth, per_day)
    for enc in ("md5", "xxhash64"):
        store = stores[enc]
        params = dict(PARAMS)
        if enc != "md5":
            params["bucket_encoding"] = enc
        _check_store_params(spark, store, params)
        rec = real_recurring_rows_enc(spark, per_day, enc)
        t0 = time.time()
        for d in range(depth):
            synth_day_rows_enc(
                spark, d, per_day, rec, enc
            ).write.mode("overwrite").parquet(f"{store}/day={d}")
        rec.unpersist()
        n_hist = spark.read.parquet(store).count()
        store_bytes = _du_bytes(store)
        print(
            f"[{enc}] store: {n_hist} rows, {store_bytes / 2**30:.2f} GiB "
            f"({time.time() - t0:.1f}s gen)",
            flush=True,
        )
        # one committing fold (idempotent overwrite target for the A/B
        # re-folds; warms the cache equally for both bloom modes)
        t0 = time.time()
        n0 = incremental_neardup_update(
            spark, docs, store, depth, repartition=par, bucket_encoding=enc
        ).count()
        print(f"[{enc}] commit fold: {time.time() - t0:.1f}s pairs={n0}",
              flush=True)
        m_bits = 16 * (
            spark.read.parquet(f"{store}/day={depth}")
            .select("band", "bucket").distinct().count()
        )
        best = {}
        for rep in range(2):
            for tag, bits in (("off", None), ("on", m_bits)):
                t0 = time.time()
                pairs = incremental_neardup_update(
                    spark, docs, store, depth, repartition=par,
                    bloom_bits=bits, bucket_encoding=enc,
                )
                # checksum sums in decimal(38,0): a long sum of ~1e7
                # signed 64-bit hashes overflows under ANSI mode
                agg = pairs.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.xxhash64("id_a", "id_b").cast("decimal(38,0)")
                    ).alias("chk"),
                ).collect()[0]
                w = time.time() - t0
                best[tag] = min(best.get(tag, float("inf")), w)
                print(
                    f"[{enc}] rep{rep} {tag}: {w:.1f}s pairs={agg['n']} "
                    f"chk={agg['chk']}",
                    flush=True,
                )
                results.setdefault(enc, {})[tag] = (agg["n"], agg["chk"])
        results[enc]["best"] = dict(best)
        results[enc]["store_bytes"] = store_bytes
        shutil.rmtree(store, ignore_errors=True)
        spark.sparkContext._jvm.System.gc()

    m, x = results["md5"], results["xxhash64"]
    assert m["off"] == m["on"] == x["off"] == x["on"], (
        "pair set differs across encodings/modes: "
        f"md5 {m['off']}/{m['on']} xx {x['off']}/{x['on']}"
    )
    print(
        f"\nA/B @{depth}x-day: store bytes md5 "
        f"{m['store_bytes'] / 2**30:.2f} GiB -> xxhash64 "
        f"{x['store_bytes'] / 2**30:.2f} GiB "
        f"({m['store_bytes'] / x['store_bytes']:.2f}x smaller); "
        f"fold off {m['best']['off']:.1f}s -> {x['best']['off']:.1f}s "
        f"({m['best']['off'] / x['best']['off']:.2f}x); "
        f"fold on {m['best']['on']:.1f}s -> {x['best']['on']:.1f}s "
        f"({m['best']['on'] / x['best']['on']:.2f}x); pairs identical "
        f"(count+checksum)",
        flush=True,
    )
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
