"""Standing invariants for the oracle-gate registry rotation.

Round-6 verdict: 14 new gates sat outside the driver's 50-slot correctness
window because the registry order was a hand-maintained list nobody refreshed.
The order is now computed from tools/registry_green.json
(`gates._freshness_order`); these tests make a silent recurrence
impossible — a new gate, a stale gate, or a map/registry drift fails CI.

No SparkSession needed: everything here is pure dict/JSON inspection.
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

MAP_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "registry_green.json",
)


def _load():
    with open(MAP_PATH) as f:
        doc = json.load(f)
    return doc, list(entry_mod.queries())


def _bucket(g):
    if (g or {}).get("defer"):
        return 3  # conscious round-split: yields its window slot this round
    lg = (g or {}).get("last_green")
    return 0 if lg is None else (1 if (g or {}).get("stale") else 2)


def test_map_covers_registry_exactly():
    doc, names = _load()
    gates = doc["gates"]
    extra = set(gates) - set(names)
    assert not extra, f"map entries for gates not in queries(): {sorted(extra)}"
    # the map's key order breaks freshness ties, so a gate without an entry
    # has no place in the order: tools/update_registry_green.py adds one
    missing = set(names) - set(gates)
    assert not missing, f"gates with no map entry: {sorted(missing)}"


def test_registry_build_rejects_a_duplicate_name():
    """Two family modules declaring one name must fail the registry build;
    the queries() dict view would otherwise keep only one of them."""
    from gates import build_registry
    from gates.common import Gate

    def family(name):
        return SimpleNamespace(__name__=name, GATES=[Gate("dup", None, None)])

    with pytest.raises(ValueError, match="'dup' declared in gates.a and gates.b"):
        build_registry([family("gates.a"), family("gates.b")])


def test_least_verified_inside_window():
    """Every never-checked or stale gate must land inside the driver's
    checked window (the round-6 failure mode). If more such gates exist
    than slots, the build must consciously split them across rounds —
    that's a loud failure here, not a silent omission."""
    doc, names = _load()
    gates = doc["gates"]
    window = doc.get("window", 50)
    needy = [n for n in names if _bucket(gates.get(n)) < 2]
    assert len(needy) <= window, (
        f"{len(needy)} never-checked/stale gates exceed the {window}-slot "
        f"window — split across rounds explicitly: {needy}"
    )
    head = set(names[:window])
    outside = [n for n in needy if n not in head]
    assert not outside, f"least-verified gates outside the checked window: {outside}"


def test_order_is_freshness_sorted():
    doc, names = _load()
    gates = doc["gates"]
    keys = []
    for n in names:
        g = gates.get(n) or {}
        keys.append((_bucket(g), g.get("last_green") or 0))
    assert keys == sorted(keys), "queries() order does not match the green map"


def test_deferred_gates_are_justified_and_bounded():
    """Deferring is the conscious-split escape hatch, not a dumping
    ground: every deferred gate must carry a written reason, and the
    combined zero-evidence backlog (deferred included) must still fit
    in at most TWO driver rounds."""
    doc, names = _load()
    gates = doc["gates"]
    window = doc.get("window", 50)
    deferred = [n for n, g in gates.items() if g.get("defer")]
    for n in deferred:
        assert gates[n].get("defer_reason"), f"deferred without a reason: {n}"
        assert gates[n].get("last_green") is None or gates[n].get("stale"), (
            f"{n} is deferred but has fresh green evidence — clear the flag"
        )
    zero_evidence = [n for n in names
                     if (gates.get(n) or {}).get("last_green") is None
                     or (gates.get(n) or {}).get("stale")]
    assert len(zero_evidence) <= 2 * window, (
        f"{len(zero_evidence)} zero-evidence gates cannot clear in two rounds"
    )


def test_verification_debt_bounded():
    """The round-7 verdict's structural finding: stale evidence must keep
    BURNING faster than new gates accrue. Invariant: gates whose last
    driver green is more than 4 rounds behind the newest green must fit
    in ONE driver window — i.e. the oldest debt always clears within the
    next round. (r8 baseline: newest=7, cutoff 2, 32 such gates; the
    bound tightens as rotations land.)"""
    doc, names = _load()
    gates = doc["gates"]
    window = doc.get("window", 50)
    greens = [g.get("last_green") for g in gates.values() if g.get("last_green")]
    if not greens:
        return
    cutoff = max(greens) - 5
    ancient = [
        n
        for n in names
        if (gates.get(n) or {}).get("last_green") is not None
        and gates[n]["last_green"] <= cutoff
    ]
    assert len(ancient) <= window, (
        f"{len(ancient)} gates last green at round <= {cutoff} exceed one "
        f"{window}-slot window — the rotation is losing to gate additions: "
        f"{ancient[:10]}..."
    )


def test_max_staleness_five_rounds():
    """Codified from the round-8 verdict (ask #2): once the round-9
    rotation lands (newest green >= 9), NO gate's evidence may be more
    than 5 rounds behind the newest green — the debt-burn plan
    (window-fill by freshness + <=4 new gates/round) keeps this true
    structurally; this assert keeps it true after the verdict files
    stop saying so. Deferred gates are exempt only while their written
    reason stands (test_deferred_gates_are_justified_and_bounded)."""
    doc, names = _load()
    gates = doc["gates"]
    greens = [g.get("last_green") for g in gates.values() if g.get("last_green")]
    if not greens or max(greens) < 9:
        return  # binds from the round-9 rotation onward
    floor = max(greens) - 5
    too_old = [
        n
        for n in names
        if not (gates.get(n) or {}).get("defer")
        and (gates.get(n) or {}).get("last_green") is not None
        and gates[n]["last_green"] < floor
    ]
    assert not too_old, (
        f"gates with evidence older than newest-5 (<{floor}): {too_old}"
    )


def test_oracles_subset_of_queries():
    _, names = _load()
    oracles = entry_mod.oracle_sql()
    dangling = set(oracles) - set(names)
    assert not dangling, f"oracle_sql() for unknown gates: {sorted(dangling)}"


def test_rows_only_gates_are_documented():
    """Gates without an oracle get only the weak rows-only check; keep that
    list explicit so it can't grow silently."""
    _, names = _load()
    oracles = entry_mod.oracle_sql()
    rows_only = sorted(set(names) - set(oracles))
    assert rows_only == ["compression_ratio"], rows_only
