"""Full-registry analysis sweep as a standing test.

Round-5 postmortem: a testdata type change (events ``ts`` micros vs nanos)
broke 16 registry queries while the driver's rotating oracle gate showed
stale green. This test builds EVERY ``queries()`` entry against real
testdata and forces Catalyst analysis, plus EXPLAINs every ``oracle_sql()``
twin in DuckDB — so schema drift in either engine fails the suite the same
session it lands. Streaming entries execute their (small) sf0.001 replay;
everything else is analysis-only.
"""

from __future__ import annotations

import os

import pytest

from tools.sweep_registry import sweep

SF_DIR = os.environ.get("SPARK_GRAFT_SWEEP_DIR", "/root/testdata/sf0.001")


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_every_registry_query_analyzes_and_every_oracle_parses():
    failures = sweep(SF_DIR)
    assert not failures, "registry sweep failures: " + ", ".join(
        name for name, _ in failures
    ) + "\n\n" + "\n".join(err for _, err in failures[:3])


def test_no_gate_plan_has_lint_errors(spark):
    """Standing scale-antipattern gate: no registry query may plan a
    cartesian product, a row-at-a-time Python UDF, or an unbounded
    global window — and (r16) no gate may trip either static-pricing
    trap rule (fact-broadcast / dim-cut-not-broadcast, warn-severity
    but forbidden here: every landed gate carries its guard, so a
    firing means a guard regressed). New gates are linted automatically
    the moment they enter the registry. The one exception is a
    SinglePartition window over a row set that is BOUNDED by construction:
    the gate's ``Plan.bounded_window`` must say why."""
    from bun_csv_spark.plans.lint import lint_plan
    from gates import GATES

    forbidden_warns = {"fact-broadcast", "dim-cut-not-broadcast"}
    bad = {}
    for g in GATES:
        df = g.build(spark, SF_DIR)
        errs = [
            f.code
            for f in lint_plan(df)
            if f.severity == "error" or f.code in forbidden_warns
        ]
        if g.plan and g.plan.bounded_window:
            errs = [c for c in errs if c != "global-window"]
        if errs:
            bad[g.name] = errs
    assert not bad, f"lint errors in gate plans: {bad}"
