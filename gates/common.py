"""The gate record, and the helpers that more than one family module uses.

A gate is one ``Gate``: its name, its builder ``build(spark, sf_dir) ->
DataFrame``, its DuckDB oracle SQL and what its physical plan may contain.
A family module collects its gates with ``@GATES.gate(name, oracle, plan)``
on each builder; ``gates/__init__.py`` joins the families into one list."""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from bun_csv_spark.functions.sketches import _hll_alpha
from bun_csv_spark.scratch import scratch_dir


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
    """Per-(gate, sf_dir) staging directory under the process's scratch
    root, wiped on entry (see ``scratch_dir``)."""
    return scratch_dir(f"{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}")


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
