"""10x-docs scale datapoint for the LLM-pipeline headline queries.

The TPC-H side has a measured 1x/10x/30x curve (tools/scale_sf1.py); the
pipeline side's biggest measured point was the r4 200k-doc dedup_apply
composition. This tool closes that gap (round-9 verdict ask #4): it
GENERATES a documents+embeddings corpus at Mx the sf0.1 size (5,000 docs /
2,000 vectors -> 50,000 / 20,000 at M=10) with the same schemas, then
times the headline pipeline gates at sf0.1 and Mx in one process and
prints per-query wall + the scaling ratio. Any >3x ratio for 10x data is
a plan bug to chase (the q18 treatment).

The generator is Spark-native and deterministic (xxhash64-derived word
picks, no Python RNG, no driver loops) and plants near-duplicates — every
doc_id with id%25==1 is a word-level perturbation of the block anchor
25*(id//25) — so the minhash/LSH/verify path has real candidate work at
every scale, like the driver corpus does.

Usage:
    python tools/scale_docs.py gen [M]   # writes .scale/docs{M} under the repo
    python tools/scale_docs.py run [M]   # times the subset at sf0.1 AND Mx
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF01_DIR = "/root/testdata/sf0.1"
N_DOCS, N_VECS, DIM = 5_000, 2_000, 64

SUBSET = [
    "dedup_fingerprint",
    "minhash_signatures",
    "neardup_pairs_bucketed",
    "text_quality",
    "ann_cosine_topk",
    "dedup_apply",
]

VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data",
    "hash", "join", "shard", "codec", "plan", "stage", "skew", "salt",
]


def _dir(mult: int) -> str:
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale",
        f"docs{mult}",
    )


def generate(spark, mult: int = 10) -> None:
    out_dir = _dir(mult)
    os.makedirs(out_dir, exist_ok=True)
    n_docs, n_vecs = N_DOCS * mult, N_VECS * mult

    sid = F.col("id")
    # near-dup plant: id%25==1 copies the block anchor's word stream and
    # perturbs the tail (3 id-derived words appended)
    base = F.when(sid % 25 == 1, (sid / 25).cast("long") * 25).otherwise(sid)
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    n_words = (F.pmod(F.xxhash64(base, F.lit(1)), F.lit(51)) + 30).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda j: F.element_at(
            vocab, (F.pmod(F.xxhash64(base, F.lit(2), j), F.lit(len(VOCAB))) + 1).cast("int")
        ),
    )
    perturb = F.when(
        sid % 25 == 1,
        F.transform(
            F.sequence(F.lit(1), F.lit(3)),
            lambda j: F.element_at(
                vocab, (F.pmod(F.xxhash64(sid, F.lit(3), j), F.lit(len(VOCAB))) + 1).cast("int")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    text = F.array_join(F.concat(words, perturb), " ")
    docs = spark.range(0, n_docs, 1, 32).select(
        sid.alias("doc_id"),
        text.alias("text"),
        F.element_at(
            F.array(*[F.lit(v) for v in ["en", "de", "fr", "zh", "es", "ja"]]),
            (F.pmod(F.xxhash64(sid, F.lit(4)), F.lit(6)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.xxhash64(sid, F.lit(5)), F.lit(20)).cast("string")).alias("source"),
        F.length(text).alias("n_chars"),
    )
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    vid = F.col("id")
    emb = spark.range(0, n_vecs, 1, 32).select(
        vid.alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: (
                (F.pmod(F.xxhash64(vid, F.lit(6), j), F.lit(2001)) - 1000) / 1000.0
            ).cast("float"),
        ).alias("embedding"),
        F.pmod(F.xxhash64(vid, F.lit(7)), F.lit(10)).cast("int").alias("label"),
    )
    emb.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    print(f"generated docs x{mult} at {out_dir}")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark, mult: int = 10) -> None:
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    out: dict[str, dict[str, float]] = {}
    big = f"x{mult}"
    for label, sf_dir in (("sf0.1", SF01_DIR), (big, _dir(mult))):
        timings = {}
        for name in SUBSET:
            _force(queries[name](spark, sf_dir))  # warmup / codegen
            best = float("inf")
            for _ in range(3):
                t0 = time.time()
                _force(queries[name](spark, sf_dir))
                best = min(best, time.time() - t0)
            timings[name] = round(best, 3)
        out[label] = timings
        print(label, json.dumps(timings), flush=True)
    print(f"{'query':<24}{'sf0.1':>8}{big:>8}{'ratio':>7}")
    for name in SUBSET:
        a, b = out["sf0.1"][name], out[big][name]
        print(f"{name:<24}{a:>8.3f}{b:>8.3f}{b / a:>7.2f}")
    ta, tb = sum(out["sf0.1"].values()), sum(out[big].values())
    print(f"{'TOTAL':<24}{ta:>8.3f}{tb:>8.3f}{tb / ta:>7.2f}")


def main() -> int:
    from bun_csv_spark.session import get_spark

    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("scale_docs", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "gen":
        generate(spark, mult)
    else:
        if not os.path.isdir(_dir(mult)):
            generate(spark, mult)
        run(spark, mult)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
