"""The repository's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload csv_etl --seed 1 --seconds 10 --trace 0

Run from a checkout: the library is imported from the ``bun_csv_spark/``
beside this directory, never from an installed copy. The run

1. pins the environment (``local[nproc]``, driver heap, Spark local dirs and
   working directory under ``.perfbench_work/``) and prints it;
2. generates the workload's inputs from ``--seed``, or reuses a cached set
   (not part of any timing);
3. sets up: starts the session and runs one untimed warm-up pass over the
   same inputs the timed passes use, so JIT compilation at full data size,
   code generation and Python-worker start-up land in ``setup_s``;
4. runs passes until ``--seconds`` have elapsed, checking every operation's
   output against the generator's expectations;
5. prints a human-readable summary line, then the result JSON as the last
   line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes (at least untraced, traced, untraced) and
reports the per-layer metrics, medians over the traced passes, plus the
tracing overhead (median traced minus median untraced pass time). Every
span of the run is written to ``.perfbench_work/spans-<workload>-<seed>.jsonl``
at exit. ``--smoke`` runs the same code on tiny inputs, for the benchmark's
own tests.

``input_mb_per_s`` is the rate of each workload's headline operations over
the bytes of its generated input: the three CSV read paths together
(csv_etl; three times the file size over the summed read times, so the
slower typed and exact paths weigh most), the whole dedup pipeline
(text_dedup), and the five decoders together (media_decode).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"  # driver heap, well under the RAM of a small machine

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("peak_rss_mb", "MB"),
    ("input_mb_per_s", "MB/s"),
)

# (span, stats) pairs of the traced run; a span the workload never opens
# reports 0, which is how a layer shows as untouched by a workload
LAYER_SPANS = (
    ("session.get_spark", ("wall_s",)),
    ("sources.csv_reader.read_csv-native", ("wall_s", "cpu_s", "jobs", "gc_s")),
    ("sources.csv_reader.read_csv-typed", ("wall_s", "self_s", "cpu_s")),
    ("functions.coercion.apply_dynamic_typing", ("build_s", "wall_s", "jobs", "cpu_s")),
    ("sources.csv_reader.read_csv-exact", ("wall_s", "cpu_s", "jobs", "gc_s")),
    ("plans.expr.compile_filter", ("wall_s",)),
    ("operators.frame.query", ("wall_s", "self_s", "cpu_s", "jobs", "shuffle_write_mb")),
    ("operators.stats.column_stats", ("wall_s", "build_s", "cpu_s", "jobs")),
    ("operators.aggregates.exact_median_distributed", ("build_s", "wall_s", "jobs", "cpu_s")),
    ("sources.csv_writer.write_csv", ("wall_s", "cpu_s", "jobs")),
    ("text_dedup.pipeline", ("wall_s", "self_s")),
    ("functions.text.token_count", ("wall_s", "cpu_s")),
    ("operators.dedup.neardup_pairs_minhash",
     ("wall_s", "cpu_s", "jobs", "shuffle_write_mb", "candidates")),
    ("operators.dedup.ngram_jaccard_pairs",
     ("wall_s", "cpu_s", "shuffle_write_mb", "candidates", "keep_ratio")),
    ("operators.dedup.editdist_verify", ("wall_s", "cpu_s", "gc_s", "shuffle_write_mb")),
    ("operators.dedup.connected_components",
     ("build_s", "wall_s", "jobs", "cpu_s", "shuffle_write_mb")),
    ("text_dedup.keep_canonical", ("wall_s", "jobs")),
    *((f"multimodal.binary.extract_pixel_stats-{f}", ("wall_s", "cpu_s", "gc_s"))
      for f in ("jpeg444", "jpeg420", "jpeg_progressive", "png", "bmp")),
    ("multimodal.binary.extract_dhash", ("wall_s", "cpu_s")),
    ("operators.dedup.hamming_pairs64", ("wall_s", "cpu_s", "jobs", "shuffle_write_mb", "pairs")),
)
STAT_UNITS = {"wall_s": "s", "self_s": "s", "build_s": "s", "cpu_s": "s", "gc_s": "s",
              "jobs": "count", "candidates": "count", "pairs": "count",
              "shuffle_write_mb": "MB", "keep_ratio": "ratio"}
# workload rates measured on the untraced passes of the traced run
RATES = (
    ("csv_read_mb_s", "MB/s"),
    ("csv_typed_read_mb_s", "MB/s"),
    ("csv_exact_read_mb_s", "MB/s"),
    ("csv_write_mb_s", "MB/s"),
    ("dedup_docs_per_s", "1/s"),
    ("decode_mpix_per_s", "Mpix/s"),
)
TRACE = (("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"), ("trace.overhead_s", "s"))
PER_LAYER = (
    tuple((f"{span}.{stat}", STAT_UNITS[stat]) for span, stats in LAYER_SPANS for stat in stats)
    + RATES + TRACE
)


def since_process_start() -> float:
    """Seconds since this process was started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> dict:
    """local[nproc] with one driver JVM, a heap well under physical RAM,
    and every Spark, temporary and working-directory file under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        # the driver JVM's heap is resident from the start, so peak RSS does
        # not depend on how far the collector happened to grow it; what
        # varies is the memory the workload itself adds
        "PYSPARK_SUBMIT_ARGS":
            f'--driver-java-options "-Xms{HEAP} -XX:+AlwaysPreTouch" pyspark-shell',
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM (the spark-submit launcher too): temp files under work,
        # no /tmp/hsperfdata counters
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers unpickle the library's functions by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    cwd = os.path.join(work, "cwd")
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    os.makedirs(cwd, exist_ok=True)
    os.chdir(cwd)  # spark-warehouse and relative outputs land here
    return {**env, "cwd": cwd, "master": f"local[{cpus}]"}


def stop_spark(spark) -> None:
    """Stops the session and its gateway JVM, and waits for the JVM (and
    with it the Python workers it forked) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("csv_etl", "text_dedup", "media_decode"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bun_csv_spark", "__init__.py")):
        print(f"perfbench: no bun_csv_spark/ package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import inputs
    from spans import PeakRss, StatusReader, Tracer
    from workloads import WORKLOADS, Checks

    work = os.path.join(ROOT, ".perfbench_work")
    env = pin_environment(work)
    before_inputs = since_process_start()
    run_inputs = inputs.prepare(os.path.join(work, "inputs"), args.workload, args.seed,
                                "smoke" if args.smoke else "full")

    with PeakRss() as rss:
        t_inputs = time.perf_counter()
        from bun_csv_spark.session import get_spark

        boot = Tracer()
        with boot.span("session.get_spark"):
            spark = get_spark("perfbench")
        try:
            spark.sparkContext.setLogLevel("ERROR")
            checks = Checks()
            # warm-up: one full pass, so the timed passes are not the first
            # to run at full size while the JVM is still compiling
            workload = WORKLOADS[args.workload](spark, *run_inputs, work)
            workload.run_pass(Tracer(), checks)
            setup_s = before_inputs + time.perf_counter() - t_inputs

            plain = Tracer()
            traced = Tracer(StatusReader(spark.sparkContext)) if args.trace else None
            t0 = time.perf_counter()
            n = 0
            # traced runs alternate untraced, traced, untraced, ... so each
            # traced pass sits between two untraced ones of similar warmth
            while True:
                tr = traced if traced is not None and n % 2 == 1 else plain
                with tr.span("pass"):
                    workload.run_pass(tr, checks)
                n += 1
                if time.perf_counter() - t0 >= args.seconds and (not args.trace or n >= 3):
                    break
        finally:
            stop_spark(spark)

    pass_s = statistics.median(plain.walls("pass"))
    rates = workload.rates(plain)
    if args.trace:
        layers = traced.medians()
        layers["session.get_spark"] = boot.medians()["session.get_spark"]
        values = {f"{span}.{stat}": layers.get(span, {}).get(stat, 0.0)
                  for span, stats in LAYER_SPANS for stat in stats}
        values.update({name: rates.get(name, 0.0) for name, _ in RATES})
        traced_s = statistics.median(traced.walls("pass"))
        values.update({"trace.pass_s": traced_s, "trace.untraced_pass_s": pass_s,
                       "trace.overhead_s": traced_s - pass_s})
        units = PER_LAYER
    else:
        values = {"setup_s": setup_s, "pass_s": pass_s, "peak_rss_mb": rss.peak / 1e6,
                  "input_mb_per_s": rates["input_mb_per_s"]}
        units = END_TO_END

    spans = boot.records() + plain.records() + (traced.records() if args.trace else [])
    with open(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in sorted(spans, key=lambda r: r["start"]))

    share = checks.failed / checks.attempted
    summary = " ".join(f"{k}={v:.4g}" for k, v in {**values, **rates}.items()
                       if not k.startswith(tuple(s for s, _ in LAYER_SPANS)))
    walls = ",".join(f"{w:.3f}" for w in plain.walls("pass"))
    print(f"perfbench {args.workload} seed={args.seed} passes=[{walls}]: {summary} "
          f"ops_failed_share={checks.failed}/{checks.attempted}={share:.4g} "
          f"env={json.dumps(env, sort_keys=True)}")
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
