"""The oracle-gate registry: one ``Gate`` record per gate (gates/common.py),
declared in its family module beside its builder, its DuckDB oracle and its
plan budget. ``__spark_entry__.queries()`` and ``oracle_sql()`` are views
over ``GATES``; the driver compares row count + schema + order-insensitive
value hash at sf0.01.

Determinism conventions used throughout (SURVEY §7.3):
- group encounter-order semantics (first/last/concat) are pinned to an
  explicit order key — lineitem uses l_orderkey*10 + l_linenumber;
- doubles produced by multi-row arithmetic are round()ed (2dp money, 4-6dp
  ratios) so accumulation-order ULP noise can't flip the value hash;
- timestamps are emitted as wall-clock strings (the testdata is
  TIMESTAMP_NTZ, so formatting is session-timezone independent);
- integer-valued aggregates are cast to BIGINT on the DuckDB side (DuckDB
  sums integers into HUGEINT, which pandas mangles).
"""

from __future__ import annotations

import json
import os

from gates import (
    corpus,
    csv_io,
    events,
    incremental,
    multimodal,
    relational,
    similarity,
    streaming,
    text,
    tpch,
)
from gates.common import Gate

GREEN_MAP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "registry_green.json",
)


def build_registry(families) -> list[Gate]:
    """Every family module's ``GATES``, in family order. A name declared
    twice raises: the ``queries()`` dict view would silently keep one."""
    owner: dict[str, str] = {}
    for fam in families:
        for g in fam.GATES:
            if g.name in owner:
                raise ValueError(
                    f"gate {g.name!r} declared in {owner[g.name]} and {fam.__name__}"
                )
            owner[g.name] = fam.__name__
    return [g for fam in families for g in fam.GATES]


GATES = build_registry(
    (tpch, relational, csv_io, text, corpus, similarity, multimodal,
     streaming, incremental, events)
)


def _freshness_order(raw: dict) -> dict:
    """Reorder the registry FRESHNESS-FIRST from the checked-in last-green
    map (tools/registry_green.json): the driver's capped correctness run
    covers the first `window` (50) entries, so gates sort by how little
    oracle evidence they have — (1) never-checked / new gates (no
    last_green), (2) gates whose last green predates a code or data-encoding
    change (stale), (3) everything else, oldest green first. Ties keep the
    map's key order; a gate missing from the map sorts after the mapped
    ones of its bucket. This replaces the manual per-round reshuffle the
    round-6 verdict flagged (14 new gates silently outside the window);
    tests/test_registry_order.py asserts the invariants, and the map is the
    only thing to update each round (tools/update_registry_green.py)."""
    try:
        with open(GREEN_MAP) as f:
            green = json.load(f)["gates"]
    except (OSError, ValueError, KeyError):
        return raw
    pos = {name: i for i, name in enumerate(green)}

    def key(pair):
        i, name = pair
        g = green.get(name) or {}
        lg = g.get("last_green")
        if g.get("defer"):
            # conscious round-split (test_registry_order's overflow rule):
            # more zero-evidence gates than window slots — deferred ones
            # (locally verified, lowest portability risk, defer_reason in
            # the map) yield their slot and rotate in next round
            bucket = 3
        else:
            bucket = 0 if lg is None else (1 if g.get("stale") else 2)
        return (bucket, lg or 0, pos.get(name, len(pos) + i))

    ordered = sorted(enumerate(raw), key=key)
    return {name: raw[name] for _, name in ordered}
