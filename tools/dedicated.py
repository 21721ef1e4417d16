"""Dedicated single-query scale measurement: one fresh process, one
query, warmup + best-of-3, plus an executed-plan operator census.

The r11 q3 lesson institutionalized: suite ratios are confounded by box
state (page cache, JIT, GC debt from earlier queries) — never chase one
without a clean-process re-measure.

The r13 q21 lesson institutionalized: even SAME-PLAN dedicated walls at
sf100 span ~4x (page cache + GCLocker + spill), so raw walls are
near-uninterpretable round-over-round. Each measured run is therefore
paired with a fixed CALIBRATION query (a full scan-aggregate over
lineitem — the same IO/cache regime the big joins live in) run
immediately before it, and the primary stable number is the per-run
ratio query_wall / calib_wall (min over runs), reported alongside the
raw walls. Compare ratios across rounds, not walls.

    python tools/dedicated.py <query> <SF> [runs] [--noop]

SF picks the repo's .scale/sf{SF} (generated by scale_sf1.py gen).

Sink (r17): default is .collect() — right for the TPC-H gates (small
aggregate outputs), WRONG for gates whose result is the full dataset
(join_inner, the CSV/convert gates): their dedicated wall is dominated
by driver-side row collection, not plan cost (measured: 48 s collect
vs 1.4 s noop for join_inner at sf10 — SCALE.md r16). ``--noop``
forces with the same ``write.format("noop")`` sink bench.py uses
(full computation, zero driver materialization) — use it for any gate
whose output is O(data). The JSON records which sink ran.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--noop"]
    noop = "--noop" in sys.argv[1:]
    name = argv[0]
    sf = float(argv[1]) if len(argv) > 1 else 100.0
    runs = int(argv[2]) if len(argv) > 2 else 3
    sf_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale",
        f"sf{sf:g}",
    )
    from bun_csv_spark.session import get_spark

    spark = get_spark(
        "dedicated", cpus=32, shuffle_partitions=(256 if sf >= 30 else None)
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()[name]

    def calib_wall() -> float:
        # Fixed scan-aggregate over the dominant fact: prices the box's
        # current IO/page-cache/GC regime without any join or wide
        # shuffle of its own. Must stay byte-stable across rounds.
        from pyspark.sql import functions as F

        t = time.time()
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).agg(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")),
            F.count("*"),
        ).collect()
        return time.time() - t

    def force(df) -> None:
        # noop: bench.py's sink — full computation, zero driver
        # materialization (the right force for O(data)-output gates)
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()

    t0 = time.time()
    df = q(spark, sf_dir)
    force(df)
    cold = time.time() - t0
    best = float("inf")
    walls, calibs = [], []
    for i in range(runs):
        # shuffle files of prior runs are only deleted when the
        # ContextCleaner GCs their ShuffleDependency — at sf100 a
        # back-to-back loop can fill the disk with dead spill before
        # that happens (observed r13: ENOSPC on run 3 of tpch_q5)
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)
        c = calib_wall()
        calibs.append(c)
        t0 = time.time()
        df = q(spark, sf_dir)
        force(df)
        w = time.time() - t0
        walls.append(w)
        best = min(best, w)
        print(f"# run {i}: {w:.2f}s  calib {c:.2f}s  ratio {w / c:.2f}", flush=True)
    s = df._jdf.queryExecution().executedPlan().toString()
    with open(f"/tmp/dedicated_{name}_sf{sf:g}_plan.txt", "w") as fh:
        fh.write(s)
    # Census on the FINAL plan only: AQE's toString appends an
    # '== Initial Plan ==' section that duplicates every operator, and
    # bare substring counts also match ReusedExchange/BroadcastExchange
    # — count word-anchored names on the final section (r13 advice).
    final_s = s.split("== Initial Plan ==")[0]
    census = {
        k: len(re.findall(rf"\b{k}\b", final_s))
        for k in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "Exchange",
            "BroadcastExchange",
            "ReusedExchange",
        )
    }
    print(
        json.dumps(
            {
                "query": name,
                "sf": sf,
                "sink": "noop" if noop else "collect",
                "cold_sec": round(cold, 2),
                "best_sec": round(best, 2),
                "walls_sec": [round(w, 2) for w in walls],
                "calib_sec": [round(c, 2) for c in calibs],
                # best-over-best, NOT min of per-run ratios: a cold
                # calib in an early run deflates that run's ratio (q18
                # r14: run-0 calib 12.6 s vs 1.5 s warm made run-0 the
                # "best" ratio at 5.6 when the warm truth is ~14.5) —
                # both numerator and denominator must be the max-warm
                # observation
                "ratio_to_calib": round(min(walls) / min(calibs), 3),
                "plan": census,
                "final": "isFinalPlan=true" in s,
            }
        ),
        flush=True,
    )
    # local-mode JVM shutdown can hang after the result is flushed
    # (observed on the sf100 runs, r12) — the measurement is complete,
    # so exit hard instead of waiting on the executor threads
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
