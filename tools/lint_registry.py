"""Lint every registry gate's plan at a given scale factor.

The standing pytest sweep lints at sf0.001, where EVERYTHING prices
under the broadcast threshold — the two static-pricing trap rules can
only fire there on pathological shapes. Broadcast decisions DIVERGE at
sf10 (fact files cross the 64 MB threshold, narrow projections do
not), so this tool re-lints the whole registry against a generated
.scale fixture. Round 16's first run found four live trap instances in
the gates themselves (q22 + semi_anti_join broadcasting SF-scaling
orders cuts — the q9 window, 1.5-2.1x fixed; q2's SMJ'd supplier cut —
the q11 family, 1.22x fixed; q21 a measured wash, documented) and one
rule bug (outer-join preserved sides) — see SCALE.md r16.

Gates whose tables don't exist in the fixture (documents/events/
embeddings are TPC-H-only in .scale) are skipped and counted.

Usage: python tools/lint_registry.py [sf_dir=.scale/sf10 under the repo]
Exit 1 if any gate fires a non-adjudicated trap rule OR raises a
non-AnalysisException during plan construction (r17: a construction
regression is an ERROR row, not a skip). Info-tier findings
(broadcast-fanout-budget) print as FANOUT lines and never gate.

A gate whose ``Plan.lint_wash`` names a reason is adjudicated (SCALE.md
r16) and prints WASH instead of TRAP. Two classes: (1) measured washes —
the hinted variant A/B'd within noise at both scales, so the flag costs
nothing here (single-box caveat: a multi-hundred-MB broadcast still fans
out to every executor on a real cluster; revisit if a cluster-scale
harness lands); (2) the scan-level-cut recipe — the build scans a big
table but with a SELECTIVE pushed row filter (p_size=15, name LIKE,
isin) that the size-only estimator cannot see: broadcasting that cut IS
the landed r12/r13 fix (q2's 27 MB actual at sf100), and the raw-bytes
test cannot distinguish it from a whole-table narrow projection.

r17: the single-box caveat is now CHECKABLE — the info-tier
broadcast-fanout-budget rule (plans/lint.py, default 100 MB) prints a
non-gating FANOUT line per breaching gate. At sf100 it fires on all 9
broadcast-carrying adjudicated gates: set_ops / join_size_estimate read
224 MB raw (customer/orders keys builds — the measured-wash pair; past
~the budget on a real cluster prefer the merge hint these A/Bs showed
costless), and the 7 scan-level-cut gates read 159-224 MB RAW where the
post-filter ACTUAL build is far smaller (q2: 27 MB measured at sf100) —
for those the advisory overstates by the cut selectivity, which a
raw-bytes bound cannot see; the recipe stands.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TRAP_CODES = ("fact-broadcast", "dim-cut-not-broadcast")


def main() -> int:
    from pyspark.errors import AnalysisException

    from bun_csv_spark.plans.lint import lint_plan
    from bun_csv_spark.session import get_spark

    from gates import GATES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scale", "sf10")
    spark = get_spark("lint_registry", cpus=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    n_wash = sum(bool(g.plan and g.plan.lint_wash) for g in GATES)
    bad, skipped, clean, washed, fanout = {}, 0, 0, 0, 0
    for g in GATES:
        name = g.name
        wash = g.plan and g.plan.lint_wash
        try:
            df = g.build(spark, sf_dir)
            findings = lint_plan(df)
        except AnalysisException as e:
            # table absent in this fixture (.scale generates the TPC-H
            # tables only) — expected, but named so a NEW failure mode
            # hiding under AnalysisException is still visible
            skipped += 1
            first = (str(e).splitlines() or [""])[0]
            print(f"SKIP {name}: {type(e).__name__}: {first[:120]}")
            continue
        except Exception as e:  # noqa: BLE001
            # anything else is a CONSTRUCTION REGRESSION, not a fixture
            # gap — it must fail the sweep, not inflate 'skipped'
            bad[name] = [f"construction-error: {type(e).__name__}"]
            first = (str(e).splitlines() or [""])[0]
            print(f"ERROR {name}: {type(e).__name__}: {first[:200]}")
            continue
        codes = [f.code for f in findings if f.code in TRAP_CODES]
        # info-tier cluster advisory: never affects rc, but the budget
        # breaches are printed so the single-box wash adjudications stay
        # checkable (VERDICT r16 #4)
        for f in findings:
            if f.code == "broadcast-fanout-budget":
                fanout += 1
                print(f"FANOUT {name}: {f.message.split(':')[0]}")
        if codes and wash:
            washed += 1
            print(f"WASH {name}: {codes} — {wash}")
        elif codes:
            bad[name] = codes
            print(f"TRAP {name}: {codes}")
        else:
            clean += 1
    print(f"\n{clean} clean, {len(bad)} trap/error, {washed} "
          f"adjudicated-fired (of {n_wash} allowlisted), "
          f"{fanout} fan-out advisories (info, non-gating), {skipped} "
          f"skipped (table absent at this SF)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
