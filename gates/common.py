"""The gate record, and the helpers that more than one family module uses.

A gate is one ``Gate``: its name, its builder ``build(spark, sf_dir) ->
DataFrame``, its DuckDB oracle SQL and what its physical plan may contain.
A family module collects its gates with ``@GATES.gate(name, oracle, plan)``
on each builder; ``gates/__init__.py`` joins the families into one list."""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from bun_csv_spark.functions.sketches import _hll_alpha


@dataclass(frozen=True)
class Plan:
    """What the plan tools assert about one gate; a field left empty is not
    checked.

    ``shuffles``/``must``/``must_not``: tools/audit_plans.py reads the
    formatted physical plan at sf0.01 and allows at most ``shuffles``
    shuffle Exchange nodes, requires every ``must`` fragment and forbids
    every ``must_not`` fragment."""

    shuffles: int | None = None
    must: Sequence[str] = ()
    must_not: Sequence[str] = ()
    # Fact-scan budget: how many times each SCALING table may appear in the
    # scan list. The r9 sf1 run caught tpch_q18's canonical shape scanning
    # lineitem TWICE (semi-join + re-join) — a cliff the shuffle count alone
    # never saw. Pinning scan counts makes the next double-scan fail the
    # audit at sf0.01 instead of waiting for a 10x-scale run. A gate with a
    # budget is audited even without a shuffle bound.
    fact_scans: Mapping[str, int] | None = None
    # Forced-broadcast budget (ResolvedHint nodes in the analyzed plan):
    # scaling tables (customer/supplier/documents…) must NOT carry a
    # broadcast hint — their strategy is AQE/statistics-decided. Only
    # fixed-size dims (region 5 rows, nation 25) may be hinted.
    hints: int | None = None
    # Runtime exchange reuse: a logical subtree referenced twice (detail +
    # global threshold) must execute once. With AQE on, ReuseExchange is
    # deferred to stage materialization, so the static formatted plan
    # legitimately prints the subtree twice — the audit runs the query and
    # counts each table's scans in the executed plan.
    runtime_reuse: Mapping[str, int] | None = None
    # tools/lint_registry.py: why a static-pricing trap rule that fires on
    # this gate at sf10 is adjudicated (see that tool's docstring)
    lint_wash: str | None = None
    # tests/test_registry_sweep.py: why this gate's SinglePartition window
    # runs over a BOUNDED row set by construction, so the linter's
    # global-window error is a false positive here and only here
    bounded_window: str | None = None


@dataclass(frozen=True)
class Gate:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None: no SQL twin; the driver checks rows only
    plan: Plan | None = None


class Family(list):
    """One family module's gates, in declaration order."""

    def gate(self, name: str, oracle: str | None, plan: Plan | None = None):
        """Decorator: record the builder below it as gate ``name``."""

        def add(build):
            self.append(Gate(name, build, oracle, plan))
            return build

        return add


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Per-(gate, sf_dir, PROCESS) scratch directory, WIPED on entry —
    the staging gates (streaming replays, the incremental-dedup stores)
    re-use one path per invocation instead of leaking a fresh mkdtemp
    every call (bench warmups and repeated sweeps would otherwise
    accumulate orphans for the host's lifetime). The PID suffix keeps
    two concurrent drivers (e.g. bench + a sweep over the same sf_dir)
    from clobbering each other's staged state mid-query; dirs left by
    DEAD processes are reaped by age (>6h) on each call, so the
    leak-free property survives the per-process naming — but never dirs
    whose owning PID is still alive: an hours-long sweep's lazily
    re-read store must not vanish under it just because its mtime aged
    out. Liveness is PID + the _OWNER marker's kernel start time (r12:
    an unrelated process recycling the number no longer keeps a dead
    run's dir alive), and pre-r11 unsuffixed dirs fall under the same
    age rule. Each invocation fully rebuilds the dir, so callers must collect
    the returned DataFrame before invoking the same gate again IN THE
    SAME process."""
    import glob
    import hashlib
    import shutil
    import tempfile
    import time

    def proc_start(pid: int) -> "int | None":
        """Kernel start time (clock ticks) of a live process — the
        recycled-PID disambiguator. None where /proc is unavailable."""
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                st = fh.read()
            # field 22, counted after the last ')' (comm may hold spaces)
            return int(st[st.rindex(b")") + 2:].split()[19])
        except (OSError, ValueError, IndexError):
            return None

    base = f"bun_csv_gate_{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    tmp = tempfile.gettempdir()
    # the pre-r11 naming wrote exactly `base` (no PID suffix): those dirs
    # have no live owner running this code, so they go through the same
    # age rule as dead-PID dirs instead of leaking forever
    candidates = glob.glob(os.path.join(tmp, base + "_*"))
    legacy = os.path.join(tmp, base)
    if os.path.isdir(legacy):
        candidates.append(legacy)
    for old in candidates:
        if old == legacy:
            # the legacy dir's tail is the md5 prefix, which can be
            # all-decimal (~2% of tag/sf_dir combos) and collide with a
            # live PID — it has no owner by construction, so never
            # PID-parse it (r12 advice)
            pid = None
        else:
            try:
                pid = int(old.rsplit("_", 1)[-1])
            except ValueError:
                pid = None
        if pid is not None and pid != os.getpid():
            alive = False
            try:
                os.kill(pid, 0)  # scratch is host-local, so PIDs are too
                alive = True
            except ProcessLookupError:
                pass  # owner gone; the age rule below decides
            except OSError:
                alive = True  # EPERM etc.: assume alive, don't touch
            if alive:
                # a live PID may be an unrelated process that recycled the
                # number: the _OWNER marker records the creator's kernel
                # start time — a mismatch means the real owner is gone and
                # the age rule applies; no marker (pre-r12 dir) or no
                # /proc means we can't disambiguate, so stay conservative
                owner_start = None
                try:
                    with open(os.path.join(old, "_OWNER")) as fh:
                        owner_start = int(fh.read().split()[1])
                except (OSError, ValueError, IndexError):
                    pass
                live_start = proc_start(pid)
                if (
                    owner_start is None
                    or live_start is None
                    or owner_start == live_start
                ):
                    continue  # owner (apparently) alive — never reap
        try:
            if time.time() - os.path.getmtime(old) > 6 * 3600:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass
    d = os.path.join(tmp, f"{base}_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    me = proc_start(os.getpid())
    if me is not None:
        with open(os.path.join(d, "_OWNER"), "w") as fh:
            fh.write(f"{os.getpid()} {me}")
    return d


def _neardup_corpus(spark, sf_dir):
    """documents ∪ perturbed copies — guarantees real near-dup pairs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the end")).alias("text"),
    )
    return docs.unionAll(perturbed)


_NEARDUP_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' the end' AS text FROM documents
)
"""


def _minhash_sql(src: str, n_hashes: int = 8, k: int = 5) -> str:
    from bun_csv_spark.operators.dedup import MINHASH_P as P, minhash_params

    a_consts, b_consts = minhash_params(n_hashes)
    mins = ",\n    ".join(
        f"min((({a_consts[i]} * h) + {b_consts[i]}) % {P}) AS minhash_{i}"
        for i in range(n_hashes)
    )
    return f"""
  SELECT doc_id, {mins}
  FROM (
    SELECT doc_id,
           CAST(('0x' || substr(md5(substr(text, i, {k})), 1, 15)) AS BIGINT) % {P} AS h
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS i
      FROM {src})
  )
  GROUP BY doc_id
"""


def _bands_sql(bands: int = 4, rows: int = 2) -> str:
    parts = []
    for b in range(bands):
        cols = " || '|' || ".join(
            f"minhash_{i}" for i in range(b * rows, (b + 1) * rows)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig"
        )
    return "\nUNION ALL\n".join(parts)


# mirrors the max_bucket degenerate-bucket guard of dedup._banded_pairs:
# buckets larger than the cap are dropped before pairing
_BANDS_CAPPED_SQL = """
bands_c AS (
  SELECT doc_id, band, bucket FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM bands)
  WHERE bsz <= 64
)
"""


# DuckDB twin of the md5-register HyperLogLog (hll_distinct, hll_merge,
# streaming_hll, incremental_day_pipeline): {x} suffixes the CTE names,
# {grp}/{val} pick the scope and the counted column, {bh} hex chars
# address 4**{bh} registers
_hll_ctes = """
        h{x} AS (
          SELECT {grp} AS g, md5('hll:' || {val}::VARCHAR) AS d FROM events),
        r{x} AS (
          SELECT g, CAST('0x' || substr(d, 1, {bh}) AS BIGINT) AS b,
                 ltrim(substr(d, {bh} + 1, 13), '0') AS s
          FROM h{x}),
        rho{x} AS (
          SELECT g, b,
                 CASE WHEN length(s) = 0 THEN 53
                      ELSE 4 * (13 - length(s)) +
                           CASE WHEN substr(s, 1, 1) = '1' THEN 3
                                WHEN substr(s, 1, 1) IN ('2', '3') THEN 2
                                WHEN substr(s, 1, 1) IN ('4','5','6','7') THEN 1
                                ELSE 0 END + 1
                 END AS rho
          FROM r{x}),
        regs{x} AS (SELECT g, b, max(rho) AS mx FROM rho{x} GROUP BY 1, 2),
        agg{x} AS (
          SELECT g, sum(CAST(power(2.0, 53 - mx) AS BIGINT)) AS z,
                 count(*) AS nb
          FROM regs{x} GROUP BY 1),
        est{x} AS (
          SELECT g, nb,
                 {alpha_mm} / (z / 9007199254740992.0 + ({m} - nb)) AS raw
          FROM agg{x})
    """


_hll_sel = """
        SELECT g AS scope,
               round(CASE WHEN raw <= {lc_cut} AND ({m} - nb) > 0
                          THEN {m}.0 * ln({m}.0 / ({m} - nb))
                          ELSE raw END, 4) AS est_distinct
        FROM est{x}
    """


_HLL_USERS = dict(x="_a", grp="event_type", val="user_id", bh=2,
                  alpha_mm=repr(_hll_alpha(256) * 256 * 256), m=256,
                  lc_cut=repr(2.5 * 256))
