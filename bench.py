"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation, no
driver collect / disk write in the measurement), after one tiny warmup to
JIT the codegen paths.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from bun_csv_spark.session import get_spark  # noqa: E402

# Dominant-cost family per headline query, in run order, for per-family
# normalization (r18): the single scan-aggregate calibration probe's
# cache/box-load sensitivity differs from the join/window queries', so a
# bad-cache day compressed but did not vanish under one yardstick. Each
# query now normalizes against the probe whose execution shape it shares
# — scan (map-side pipelines + pushed-filter aggregates), shuffle
# (exchange-dominated joins and high-cardinality groupBys), window (keyed
# Window/sort shapes). Assignments follow the audited plan shapes in
# tools/audit_plans.py (e.g. minhash/ann are 0-shuffle map pipelines;
# dedup_fingerprint groupBys a near-unique digest; events_tumbling
# aggregates per time-bucket x user).
FAMILY = {
    "tpch_q1": "scan",
    "tpch_q3": "shuffle",
    # q5 runs the r10 pre-reduced star join: ~0.25 s slower at sf0.1
    # (everything broadcasts here, so the extra pre-reduction is pure
    # cost) but 3.6x faster at sf10 where the canonical order shuffles
    # full lineitem+orders (SCALE.md r10). Do NOT "fix" the sf0.1
    # number by reverting — the sf10 shape is the design target.
    "tpch_q5": "shuffle",
    "join_inner": "shuffle",
    "groupby_reference_aggs": "scan",
    "sort_topk": "scan",
    "window_topk_per_group": "window",
    "events_tumbling": "shuffle",
    "events_sessionize": "window",
    "dedup_fingerprint": "shuffle",
    "text_quality": "scan",
    "minhash_signatures": "scan",
    "ann_cosine_topk": "scan",
    "multimodal_features": "scan",
}
# the headline queries, in run order: one name list, so no query can lack
# a family
HEADLINE = list(FAMILY)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_suite(spark, queries, sf_dir, samples: int = 3) -> dict[str, float]:
    """One warmup + best-of-``samples`` per headline query — the
    reference's own harness methodology (test/benchmark.ts: warmup + N
    iterations); single runs carry ±25% JIT/GC noise."""
    timings: dict[str, float] = {}
    for name in HEADLINE:
        force(queries[name](spark, sf_dir))  # warmup (codegen/JIT per plan)
        best = float("inf")
        for _ in range(samples):
            t0 = time.time()
            force(queries[name](spark, sf_dir))
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    return timings


def _child_main() -> None:
    """One FRESH-process suite pass (spawned by the parent's fresh
    mode): new JVM, warmup + best-of-2 per query, one JSON line."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_fresh", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    force(queries["count_rows"](spark, sf_dir))
    timings = _run_suite(spark, queries, sf_dir, samples=2)
    # csv throughput measured here too (r12): in the parent it runs
    # AFTER 50+ query executions and reads 40% low on a stale box —
    # the baseline-comparison number deserves the same fresh-JVM
    # treatment as the queries
    vec = _calibrate_vector(spark)
    print(json.dumps({
        "queries": timings,
        "calibrate_sec": vec["scan"],
        "calibrate_vector": vec,
        # after the vector so the scan probe keeps its series position
        "job_floor_sec": _job_floor(spark),
        "csv_parse_mb_per_sec": csv_parse_throughput(spark, sf_dir),
    }))


def _fresh_runs(n: int) -> "dict | None":
    """Run the suite in ``n`` fresh subprocesses (new JVM each — no
    inherited JIT/GC/code-cache state) and min-combine per query. This
    is the cross-round-comparable number: the same-process suite's wall
    drifts ±25-45% with accumulated process state (SCALE.md), which a
    fresh JVM per pass removes. The caller stops the parent Spark
    session first, so only ONE local[32] executor heap lives at a time.
    Returns None if every child fails — with each child's returncode +
    stderr tail on OUR stderr, never silently."""
    import subprocess

    per_child = []
    for i in range(n):
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child"],
                capture_output=True, text=True, timeout=1200,
            )
            line = proc.stdout.strip().splitlines()[-1]
            per_child.append(json.loads(line))
        except subprocess.TimeoutExpired:
            print(f"bench fresh child {i}: timeout (1200s)", file=sys.stderr)
            continue
        except (IndexError, ValueError):
            tail = "\n".join(proc.stderr.strip().splitlines()[-5:])
            print(
                f"bench fresh child {i}: rc={proc.returncode}, no JSON; "
                f"stderr tail:\n{tail}",
                file=sys.stderr,
            )
            continue
    if not per_child:
        return None
    queries = {
        name: round(min(c["queries"][name] for c in per_child), 3)
        for name in HEADLINE
    }
    vector = {
        fam: round(
            min(c["calibrate_vector"][fam] for c in per_child), 3
        )
        for fam in ("scan", "shuffle", "window")
    }
    return {
        "queries": queries,
        "total": round(sum(queries.values()), 3),
        "calibrate_sec": round(min(c["calibrate_sec"] for c in per_child), 3),
        "calibrate_vector": vector,
        "queries_normalized_family": _family_normalize(queries, vector),
        "family_normalized_totals": _family_totals(queries, vector),
        "csv_parse_mb_per_sec": round(
            max(c.get("csv_parse_mb_per_sec", 0.0) for c in per_child), 1
        ),
        "job_floor_sec": (lambda v: round(min(v), 3) if v else None)(
            [c["job_floor_sec"] for c in per_child if "job_floor_sec" in c]
        ),
        "runs": len(per_child),
    }


def _family_normalize(
    timings: dict[str, float], vector: dict[str, float]
) -> dict[str, float]:
    """query_sec / its family's probe_sec — the r18 per-family ratio
    (compare THESE across rounds; a box-state day moves each family's
    probe with its queries, so the ratios hold still)."""
    return {
        k: round(v / vector[FAMILY[k]], 2) for k, v in timings.items()
    }


def _family_totals(
    timings: dict[str, float], vector: dict[str, float]
) -> dict[str, float]:
    """Per-family sums of the normalized ratios, plus 'all' (their
    grand sum — the r18 scalar that replaces total_normalized for
    cross-round comparison)."""
    out: dict[str, float] = {}
    for k, v in timings.items():
        fam = FAMILY[k]
        out[fam] = out.get(fam, 0.0) + v / vector[fam]
    out["all"] = sum(out.values())
    return {k: round(v, 2) for k, v in out.items()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    spark = get_spark("bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    # warmup: JIT codegen + parquet footer caches on a small query
    force(queries["count_rows"](spark, sf_dir))

    vec_before = _calibrate_vector(spark)
    cal_before = vec_before["scan"]

    timings = _run_suite(spark, queries, sf_dir, samples=3)

    csv_mb_s = csv_parse_throughput(spark, sf_dir)

    # host throughput drifts ~1.4x between rounds (verified by re-running
    # the round-2 commit side-by-side on the same box); cross-round deltas
    # reflect the box as much as the code, so every query is also reported
    # as a BOX-NORMALIZED ratio (query_sec / calibrate_sec) — compare THOSE
    # across rounds, and treat WALL-CLOCK as the headline. Calibrate on
    # BOTH sides of the query block and normalize by their MEAN (r8 used
    # min, which let a one-sided 27% calibrate swing inflate every ratio
    # at once; the mean bounds any one-sided swing's effect to half, and
    # both raw sides stay in the record for attribution — SCALE.md r9)
    vec_after = _calibrate_vector(spark)
    cal_after = vec_after["scan"]
    # the per-job scheduling floor (r19): headline queries at sf0.1 sit
    # near this floor, which is why low-core scaling ratios read ≈ 1 —
    # recorded so the driver's ratio block is interpretable (runs after
    # the vector, keeping every probe's historical process position)
    job_floor = _job_floor(spark)
    cal = round((cal_before + cal_after) / 2, 3)
    # the r18 probe vector: before/after means per family, same
    # two-sided protocol as the scalar calibrate
    vector = {
        fam: round((vec_before[fam] + vec_after[fam]) / 2, 3)
        for fam in ("scan", "shuffle", "window")
    }
    total = round(sum(timings.values()), 3)

    # fresh-process pass (r11): the same suite, best-of-2 in each of 2
    # NEW JVMs, min-combined — carried alongside the same-process numbers
    # so cross-round comparisons have a process-state-free series.
    # SPARK_GRAFT_NO_FRESH=1 skips it (quick local iteration). The parent
    # session stops FIRST (r12): the same-process measurements are done,
    # and two concurrent local[32] heaps would squeeze the child the
    # series exists to keep clean.
    # 3 children since r12: two same-day fresh totals spread 12%
    # (8.411 vs 9.503 s), past the r11 rule's ~10% trigger — the third
    # JVM's min-combine absorbs one bad draw (spread recorded in
    # SCALE.md r12)
    fresh = None
    if not os.environ.get("SPARK_GRAFT_NO_FRESH"):
        spark.stop()
        fresh = _fresh_runs(3)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "csv_parse_mb_per_sec": csv_mb_s,
                "calibrate_sec": cal,
                # both sides reported so calibrate noise is VISIBLE in the
                # record — the r7->r8 "regression" was this yardstick
                # swinging 27% within one process, not the queries
                "calibrate_before_sec": cal_before,
                "calibrate_after_sec": cal_after,
                # per-job overhead floor: a query wall near this value
                # cannot show core-count scaling at this SF (see
                # _job_floor; additive — no timed region changed)
                "job_floor_sec": job_floor,
                "queries_normalized": {
                    k: round(v / cal, 2) for k, v in timings.items()
                },
                "total_normalized": round(total / cal, 2),
                # r18 per-family normalization: each query divides by
                # the probe sharing its execution shape (FAMILY map).
                # family_normalized_totals["all"] is the cross-round
                # scalar; the single-probe total_normalized stays for
                # series continuity with r9-r17
                "calibrate_vector": vector,
                "calibrate_vector_before": vec_before,
                "calibrate_vector_after": vec_after,
                "queries_normalized_family": _family_normalize(
                    timings, vector
                ),
                "family_normalized_totals": _family_totals(
                    timings, vector
                ),
                # normalization-rule version: r<=8 divided by min(before,
                # after), r9+ divides by their mean — normalized totals are
                # only comparable within the same rule
                "normalization": "mean-r9+",
                # fresh-JVM series (None if the children failed or were
                # skipped): per-query min over 2 fresh processes x
                # best-of-2 — compare THIS across rounds; the
                # same-process numbers above carry accumulated JIT/GC
                # state worth ±25-45% (SCALE.md)
                "fresh": fresh,
            }
        )
    )


def _probe(spark, df_fn) -> float:
    """Warmup + best-of-3 of one synthetic no-I/O workload."""
    def run():
        t0 = time.time()
        df_fn().write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run()  # warmup
    return round(min(run() for _ in range(3)), 3)


def _calibrate(spark) -> float:
    """Fixed synthetic workload (no I/O): a box-speed yardstick recorded
    alongside the query timings so round-over-round comparisons can be
    normalized for host drift. This is the SCAN-family probe (map-side
    expression pipeline into a low-cardinality partial aggregate — no
    meaningful exchange volume); kept byte-identical since r8 so the
    historical calibrate_sec series stays comparable."""
    from pyspark.sql import functions as F

    return _probe(
        spark,
        lambda: (
            spark.range(0, 20_000_000, 1, 32)
            .select((F.col("id") % 9973).alias("k"), (F.col("id") * 31 % 7919).alias("v"))
            .groupBy("k")
            .agg(F.sum("v"), F.avg("v"), F.max("v"))
        ),
    )


def _job_floor(spark) -> float:
    """Per-job scheduling/launch floor: warmup + best-of-3 of a
    noop-forced 32-partition job over 32 rows — all scheduling, no
    compute. Recorded so the driver's low-core-vs-high-core scaling
    ratios are interpretable: at sf0.1 most headline queries run
    0.15-1.1 s against this ~0.2-0.6 s floor, so a ratio ≈ 1 means
    "at the job-overhead floor", NOT "serial plan" (r18 verdict's
    scaling-block note). Additive field; no timed query changes."""
    from pyspark.sql import functions as F

    return _probe(
        spark,
        lambda: spark.range(0, 32, 1, 32).select(F.col("id")),
    )


def _calibrate_vector(spark) -> dict[str, float]:
    """The r18 probe VECTOR: one yardstick per query family.

    scan   — the historical _calibrate probe unchanged (its series
             anchors r8-r17 comparisons).
    shuffle — near-unique keys, so partial aggregation cannot reduce
             before the exchange: ~4M rows of (k, v) move through a
             real hash-partitioned shuffle, making the probe sensitive
             to the same memory/disk/network pressure that moves the
             join-family queries.
    window — a keyed running sum (40k keys x 50 rows): exchange + per-
             partition sort + WindowExec state, the shape the window-
             family queries share.

    Each probe is warmup + best-of-3; sizes are tuned to ~0.3 s on the
    reference box so the whole vector costs ~3 s per call.

    ORDER MATTERS: the scan probe runs FIRST so it executes in the same
    process position the r8-r17 scalar calibrate did (immediately after
    the warmup / immediately after the suite) — running it after the
    two new probes would put 8 extra jobs of JIT/GC context in front of
    it and silently shift the historical calibrate_sec series (the r12
    '40% low on a stale box' sensitivity)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scan = _calibrate(spark)
    shuffle = _probe(
        spark,
        lambda: (
            spark.range(0, 4_000_000, 1, 32)
            .select(
                (F.col("id") % 2_000_003).alias("k"),
                (F.col("id") * 31 % 7919).alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v").alias("s"))
        ),
    )
    w = Window.partitionBy("k").orderBy("v")
    window = _probe(
        spark,
        lambda: (
            spark.range(0, 2_000_000, 1, 32)
            .select(
                (F.col("id") % 40_000).alias("k"),
                (F.col("id") * 31 % 7919).alias("v"),
            )
            .withColumn("rs", F.sum("v").over(w))
        ),
    )
    return {
        "scan": scan,
        "shuffle": shuffle,
        "window": window,
    }


def csv_parse_throughput(spark, sf_dir: str) -> float:
    """End-to-end CSV parse MB/s — the reference's own headline metric
    (BASELINE.md: iterate all rows + access a field, warmup + best-of-N).

    lineitem is serialized to CSV once (cached in /tmp), then timed through
    the native reader with a projection+aggregation that forces every row
    to parse. CSV with multiLine=false splits, so all cores participate."""
    import glob

    from pyspark.sql import functions as F

    from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv
    from bun_csv_spark.sources.csv_writer import write_csv

    tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"/tmp/bench_csv_{tag}/lineitem_csv"
    if not glob.glob(f"{out}/part-*"):
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        # many part files = many scan splits (how real pipelines lay out CSV)
        write_csv(li.repartition(32), out)
    size = sum(os.path.getsize(p) for p in glob.glob(f"{out}/part-*"))

    def parse_all():
        df = read_csv(spark, out, CSVOptions())
        force(df.select(F.sum(F.length("l_returnflag")).alias("s")))

    parse_all()  # warmup
    parse_all()  # second warmup: the first run still JITs codegen paths
    best = float("inf")
    for _ in range(6):
        t0 = time.time()
        parse_all()
        best = min(best, time.time() - t0)
    return round(size / 1e6 / best, 1)


if __name__ == "__main__":
    if "--child" in sys.argv:
        _child_main()
    else:
        main()
