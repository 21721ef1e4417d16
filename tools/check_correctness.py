"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry through Spark AND its ``oracle_sql()`` twin
through DuckDB at sf0.01, then compares column sets, row counts, and
order-insensitive values. Usage:

    python tools/check_correctness.py [--no-oracle-cache] [sf_dir] [query ...]

Oracle results are CACHED in .oracle_cache/ keyed on
sha256(oracle_sql + per-table parquet (name, size, mtime)): an oracle is
a pure function of its SQL text and the fixture bytes, so a hit replays
the stored result instead of re-running DuckDB — the Spark side (the
thing under test) always runs fresh. multimodal_cluster_split's
recursive-CC oracle alone is ~30 min of the ~50-min sf0.1 sweep; with
the cache the full sweep drops under the r14 verdict's ~25-min target.
Any cache read/write error falls back to live DuckDB execution (the
cache can never flip a verdict — a corrupt entry only costs time).
``--no-oracle-cache`` forces live oracles (use for auditing the cache
itself)."""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bun_csv_spark.session import TABLES, get_spark  # noqa: E402

CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".oracle_cache"
)


def _fixture_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    # an oracle result is a function of (sql, fixture bytes, ENGINE):
    # a DuckDB/pandas upgrade that changes a behavior (rounding mode,
    # overflow promotion, // semantics) must invalidate the cache, so
    # the engine versions are part of the key
    h.update(f"duckdb={duckdb.__version__};pandas={pd.__version__}".encode())
    for t in TABLES:
        p = f"{sf_dir.rstrip('/')}/{t}.parquet"
        st = os.stat(p)
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def run_oracle(con, sql: str, fixture_digest: str, use_cache: bool):
    """DuckDB oracle with an on-disk parquet memo. Returns
    (DataFrame, from_cache)."""
    if not use_cache:
        return con.execute(sql).df(), False
    key = hashlib.sha256(
        (fixture_digest + "\x00" + sql).encode()
    ).hexdigest()
    path = os.path.join(CACHE_DIR, f"{key}.parquet")
    if os.path.exists(path):
        try:
            return pd.read_parquet(path), True
        except Exception:  # noqa: BLE001 — corrupt entry: fall through
            pass
    df = con.execute(sql).df()
    try:
        os.makedirs(CACHE_DIR, exist_ok=True)
        df.to_parquet(path, index=False)
        # round-trip guard: only trust the cache if reading it back
        # reproduces the live result exactly (dtype-lossy columns —
        # e.g. Decimal objects — must never be served from cache)
        back = pd.read_parquet(path)
        if canonical(back) != canonical(df) or list(back.columns) != list(
            df.columns
        ) or list(back.dtypes) != list(df.dtypes):
            os.remove(path)
    except Exception:  # noqa: BLE001 — unserializable result: live only
        if os.path.exists(path):
            os.remove(path)
    return df, False


def norm_value(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return float(int(v))
    if isinstance(v, (np.floating, float)):
        return round(float(v), 9) + 0.0  # normalize -0.0 (sorts as '-0.0')
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, pd.Timestamp):
        return str(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm_value(x) for x in v)
    return v


def canonical(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(norm_value(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return rows


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--no-oracle-cache"]
    use_cache = "--no-oracle-cache" not in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    fixture_digest = _fixture_digest(sf_dir)

    spark = get_spark("check_correctness", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(sdf)} rows, {t_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            odf, cached = run_oracle(
                con, oracles[name], fixture_digest, use_cache
            )
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        t_duck = time.time() - t0

        if sorted(sdf.columns) != sorted(odf.columns):
            print(
                f"FAIL {name}: column mismatch spark={sorted(sdf.columns)} "
                f"oracle={sorted(odf.columns)}"
            )
            n_fail += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: row count spark={len(sdf)} oracle={len(odf)}")
            n_fail += 1
            continue
        s_rows, o_rows = canonical(sdf), canonical(odf)
        bad = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
        ]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(s_rows)} rows differ; first 3:")
            for i, a, b in bad[:3]:
                print(f"  row {i}:\n    spark : {a}\n    oracle: {b}")
            n_fail += 1
        else:
            tag = " cached" if cached else ""
            print(
                f"PASS {name}: {len(s_rows)} rows  "
                f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s{tag})"
            )
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
