"""Physical-plan audit: assert the plans we want at 100 TB.

Checks each gate's ``Plan`` record (gates/common.py): parquet filter
pushdown (PushedFilters), column pruning (ReadSchema), broadcast joins for
dimension tables, whole-stage codegen presence, shuffle (Exchange) counts,
fact-scan and broadcast-hint budgets, and runtime exchange reuse. Run:

    python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bun_csv_spark.plans.lint import plan_text  # noqa: E402
from bun_csv_spark.session import get_spark  # noqa: E402
from gates import GATES  # noqa: E402


def report(name: str, problems: list[str], ok: str) -> int:
    print(f"BAD  {name}: {'; '.join(problems)}" if problems else f"OK   {name}: {ok}")
    return 1 if problems else 0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("audit", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for g in GATES:
        p = g.plan
        if p is None or (p.hints, p.shuffles, p.fact_scans, p.runtime_reuse) == (None,) * 4:
            continue  # nothing to audit (lint-only fields)
        df = g.build(spark, sf_dir)
        if p.hints is not None:
            analyzed = df._jdf.queryExecution().analyzed().toString()
            n_hints = analyzed.count("ResolvedHint")
            over = [f"{n_hints} broadcast hints (budget {p.hints})"] if n_hints > p.hints else []
            bad += report(g.name, over, f"broadcast hints={n_hints}/{p.hints}")
        if p.shuffles is not None or p.fact_scans:
            plan = plan_text(df)
            # count shuffle nodes once each: the "(N) Exchange" detail headers
            # (tree lines would double-count; BroadcastExchange is not a shuffle)
            n_ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
            problems = []
            if p.shuffles is not None and n_ex > p.shuffles:
                problems.append(f"{n_ex} shuffles (max {p.shuffles})")
            problems += [f"missing {frag!r}" for frag in p.must if frag not in plan]
            problems += [f"unwanted {frag!r}" for frag in p.must_not if frag in plan]
            # count DISTINCT scan nodes, not textual Location hits: the
            # formatted plan prints one "(N) Scan parquet" detail block per
            # node, but AQE plan reuse (ReusedExchange/ReusedSubquery) or an
            # Initial Plan section can reprint the same node — dedupe by the
            # node id so a reprint is never flagged as a double-scan (r10
            # advice)
            scan_blocks = re.split(r"\n(?=\(\d+\) )", plan)
            for tbl, max_n in (p.fact_scans or {}).items():
                ids = set()
                for blk in scan_blocks:
                    m = re.match(r"\((\d+)\) Scan parquet\b", blk)
                    if m and re.search(rf"Location:.*[/\\]{tbl}\.parquet", blk):
                        ids.add(m.group(1))
                if len(ids) > max_n:
                    problems.append(f"{tbl} scanned {len(ids)}x (max {max_n})")
            bad += report(g.name, problems, f"shuffles={n_ex}")
            if problems and "-v" in sys.argv:
                print(plan)
        if p.runtime_reuse is not None:
            # runs the query: after the static checks above, which must
            # read the plan before AQE re-plans it
            df.collect()
            executed = df._jdf.queryExecution().executedPlan().toString()
            problems = []
            if "ReusedExchange" not in executed:
                problems.append("no ReusedExchange in executed plan")
            for tbl, max_n in p.runtime_reuse.items():
                # executed-plan scans appear as FileScan lines; the reused
                # branch prints ReusedExchange instead of a second scan —
                # count distinct scan mentions OUTSIDE the "Initial Plan"
                # section AQE appends
                live = executed.split("+- == Initial Plan ==")[0]
                n = live.count(f"{tbl}.parquet")
                if n > max_n:
                    problems.append(f"{tbl} executed {n} scans (max {max_n})")
            bad += report(g.name, problems, "runtime exchange reuse holds")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
