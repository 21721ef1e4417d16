"""Bump tools/registry_green.json after a driver round's verdict.

The map drives `gates._freshness_order`; keeping it current is the
ONE per-round registry chore (replaces the hand-reshuffle the round-6 verdict
flagged). Run it BEFORE adding new gates for the next round, while the
effective order still matches what the driver checked.

Usage:
    # the common case — the driver checked the first 50 of the current
    # effective order in round 7 and the verdict says they all passed:
    python tools/update_registry_green.py --round 7 --window 50

    # some of the window failed (per VERDICT / CORRECTNESS_r{N}): exclude them
    python tools/update_registry_green.py --round 7 --window 50 --fail gate_a gate_b

    # bump specific gates only (e.g. after a targeted local re-verify):
    python tools/update_registry_green.py --round 7 gate_a gate_b

    # a gate's code path or input encoding changed after its last green:
    python tools/update_registry_green.py --stale gate_a

Bumping a gate sets last_green=N and clears its stale flag. New gates are
added to the map automatically (last_green=null) if present in queries().
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MAP_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_green.json")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, dest="round_no")
    ap.add_argument("--window", type=int, help="bump the first N of the current effective order")
    ap.add_argument("--fail", nargs="*", default=[], help="gates in the window that did NOT pass")
    ap.add_argument("--stale", nargs="*", default=[], help="mark gates stale (code/data changed since last green)")
    ap.add_argument("--defer", nargs=2, action="append", default=[], dest="defers",
                    metavar=("GATE", "REASON"),
                    help="defer a zero-evidence gate to the end of the order "
                         "(conscious round-split when never+stale overflow the window)")
    ap.add_argument("gates", nargs="*", help="explicit gates to bump")
    args = ap.parse_args()

    with open(MAP_PATH) as f:
        doc = json.load(f)
    gates = doc["gates"]

    import __spark_entry__ as entry_mod

    registry = list(entry_mod.queries())
    for name in registry:  # register new gates as never-checked
        gates.setdefault(name, {"last_green": None})
    for name in list(gates):
        if name not in registry:
            print(f"drop (no longer in registry): {name}")
            del gates[name]

    to_bump = list(args.gates)
    if args.window:
        if args.round_no is None:
            ap.error("--window requires --round")
        to_bump += [n for n in registry[: args.window] if n not in set(args.fail)]
    if to_bump and args.round_no is None:
        ap.error("bumping gates requires --round")

    for name in to_bump:
        if name not in gates:
            ap.error(f"unknown gate: {name}")
        gates[name] = {"last_green": args.round_no}  # clears stale AND defer
        print(f"green @r{args.round_no}: {name}")
    for name in args.stale:
        if name not in gates:
            ap.error(f"unknown gate: {name}")
        gates[name]["stale"] = True
        print(f"stale: {name}")
    for name, reason in args.defers:
        if name not in gates:
            ap.error(f"unknown gate: {name}")
        gates[name]["defer"] = True
        gates[name]["defer_reason"] = reason
        print(f"defer: {name} ({reason})")

    with open(MAP_PATH, "w") as f:
        json.dump(doc, f, indent=1)
    never = sum(1 for g in gates.values() if g.get("last_green") is None)
    stale = sum(1 for g in gates.values() if g.get("stale"))
    print(f"{len(gates)} gates: {never} never-checked, {stale} stale")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
