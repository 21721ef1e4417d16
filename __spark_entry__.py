"""Driver contract: ``entry()``, ``queries()`` and ``oracle_sql()``.

Each gate is one ``Gate`` record in its family module under gates/, next
to its DuckDB oracle and its plan budget; both functions below are views
over the one ``gates.GATES`` list. ``queries()`` is ordered
freshness-first from tools/registry_green.json, so the driver's capped
correctness window covers the least-verified gates."""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the driver may import this module by file path; make the sibling packages
# importable regardless of the invoking process's cwd
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from gates import GATES, _freshness_order  # noqa: E402
from gates.tpch import q_tpch_q1  # noqa: E402


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _freshness_order({g.name: g.build for g in GATES})


def oracle_sql() -> dict[str, str]:
    return {g.name: g.oracle for g in GATES if g.oracle is not None}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1 pricing summary."""
    return q_tpch_q1(spark, "/root/testdata/sf0.001")
