"""Full-registry analysis sweep — the cheap regression tripwire.

The driver's correctness gate checks only the first window of the
registry's queries per round, which let 11 queries sit green-on-stale-checks
while broken on disk (round 5 postmortem). This sweep closes that hole: it
builds EVERY ``queries()`` entry against a real sf dir and forces Catalyst
analysis (``df.schema``) — no execution, no collect — so any
AnalysisException from a schema/type drift in the testdata surfaces in
seconds, for every gate, every round. It also EXPLAINs every
``oracle_sql()`` twin in DuckDB so oracle drift is caught on the same
sweep.

Streaming queries are the one exception: building them runs the micro-batch
replay (run_stream_to_table executes eagerly). At sf0.001 that's a few
seconds each and it's exactly what caught the round-5 breakage, so they are
included by default; pass ``--skip-streaming`` to do the pure-analysis
sweep only.

Usage:
    python tools/sweep_registry.py [sf_dir] [--skip-streaming]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bun_csv_spark.session import TABLES, get_spark  # noqa: E402

# queries whose callables execute eagerly (streaming replay / side effects)
EAGER_PREFIXES = ("streaming_",)


def sweep(sf_dir: str, skip_streaming: bool = False) -> list[tuple[str, str]]:
    """Build every registry query + EXPLAIN every oracle; return failures
    as (name, error) pairs."""
    spark = get_spark("sweep_registry", cpus=8, shuffle_partitions=8)
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures: list[tuple[str, str]] = []
    for name, fn in queries.items():
        if skip_streaming and name.startswith(EAGER_PREFIXES):
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            _ = df.schema  # force full Catalyst analysis, no execution
        except Exception:
            failures.append((name, traceback.format_exc(limit=3)))
            print(f"FAIL  {name} (spark analysis)")
            continue
        sql = oracles.get(name)
        if sql is not None:
            try:
                con.execute(f"EXPLAIN {sql}")
            except Exception:
                failures.append((name, traceback.format_exc(limit=1)))
                print(f"FAIL  {name} (oracle explain)")
                continue
        print(f"ok    {name} ({time.time() - t0:.2f}s)")
    return failures


def main() -> int:
    sf_dir = "/root/testdata/sf0.001"
    skip_streaming = False
    for arg in sys.argv[1:]:
        if arg == "--skip-streaming":
            skip_streaming = True
        else:
            sf_dir = arg
    failures = sweep(sf_dir, skip_streaming)
    print(f"\n{len(failures)} failures")
    for name, err in failures:
        print(f"\n=== {name} ===\n{err}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
