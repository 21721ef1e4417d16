"""Plan linter — an EXPLAIN advisor for scale antipatterns.

``lint_plan(df)`` inspects the optimized physical plan of ANY DataFrame
and returns structured findings for the shapes that kill 100 TB jobs:
cartesian products, filters that never reached the parquet scan,
global-sort / single-partition windows, row-at-a-time Python UDFs, scans
that read every column for a narrow projection, unpruned reads of
hive-partitioned layouts, broadcasts past a cluster fan-out budget
(both r17) — and (r16) the two
static-pricing traps this repo hit five times across rounds 12-15:
a fact under-priced INTO a broadcast (q9/q21: narrow projections price
at file-size x column-ratio, under the threshold, while the actual
build scales with the data) and a dim cut over-priced OUT of one
(q2/q5/q11: join-derived builds price at the bytes-PRODUCT of their
children, so the whole fact is exchanged on the join key). It is the reusable
library form of the repo's own plan audit (tools/audit_plans.py asserts
per-gate expectations; this lints arbitrary user queries).

Reference parity note: the reference engine has no planner surface at
all (queries are imperative TS/Zig loops); this is a Spark-native
extension of its developer-experience goals (README's "fast by
default") to declarative plans.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

# Size-class vocabulary for the two static-pricing rules below. These are
# the repo's test tables; a user lints their own schema by passing
# fact_tables= / dim_tables= to lint_plan. "fact" = grows linearly with
# the dataset (never broadcastable at scale); "dim" = small enough that a
# cut of it always fits a broadcast build.
FACT_TABLES = frozenset(
    {"lineitem", "orders", "events", "documents", "embeddings"}
)
DIM_TABLES = frozenset({"nation", "region", "supplier", "customer", "part"})

# Fallback "too big to broadcast" line when the session has broadcasts
# disabled (threshold -1) but explicit F.broadcast() hints remain
# possible. 64 MB is THIS REPO'S session default for
# spark.sql.autoBroadcastJoinThreshold (session.py) — Spark's own
# default is 10 MB — so external users with broadcasts disabled should
# override this to match their deployment's ceiling.
FALLBACK_BROADCAST_THRESHOLD = 64 * 1024 * 1024

# Size-class INFERENCE band for the two static-pricing rules (r18): a
# scan the fact_tables/dim_tables vocabulary cannot name is classified
# by its raw on-disk bytes against the session broadcast threshold —
# >= threshold is fact-class (it cannot be broadcast whole, so it
# behaves as a named fact for rule purposes), <= threshold *
# DIM_CLASS_FRACTION is dim-class (comfortably broadcastable), and the
# ambiguous middle stays SILENT exactly as the r17 unnamed-scan guard
# did. Explicit names always override the inference — the bytes are
# lint-TIME evidence only (a table that is small today but grows with
# the data re-classifies itself as it grows; name it in fact_tables=
# to pin it). This makes the two flagship rules work out of the box on
# foreign schemas instead of only on the frozensets above.
DIM_CLASS_FRACTION = 0.25

# Default per-executor fan-out budget for the info-tier
# "broadcast-fanout-budget" rule: a broadcast build is shipped to EVERY
# executor, so a multi-hundred-MB build that measures as a wash on a
# single box still costs build-size x executor-count cluster-wide
# (1000 executors x 200 MB = 200 GB of network + heap). ~100 MB is the
# conventional "think twice" line for cluster deployments.
FANOUT_BUDGET = 100 * 1024 * 1024

_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


# One measured recipe per finding code (r18, the `--suggest` tier):
# each line is the fix this repo actually landed for that shape, with
# the measured ratio and the SCALE.md section that recorded it. Kept
# OUT of the default message so CI output stays stable — `bcsv lint
# --suggest` (or Finding.suggestion) renders them on demand.
SUGGESTIONS: dict[str, str] = {
    "cartesian-product": (
        "Add an equi-join key, or bucket the similarity condition "
        "(MinHash/LSH banding with per-bucket caps — operators.dedup; "
        "interval/as-of shapes — operators.temporal). SCALE.md 'LSH "
        "banding': pair generation stays bucket-local, never all-pairs."
    ),
    "nested-loop-join": (
        "Reduce the build side to a provably tiny relation — a keyless "
        "aggregate (1 row) or a collected bounds table — or restate as "
        "an equi-join. SCALE.md 'skew & salting': the 1-row global-stat "
        "crossJoin is the only BNLJ shape that survives scale-up."
    ),
    "global-window": (
        "partitionBy an entity key on the window, or restate the "
        "running total as per-group sums over a bounded aggregate. "
        "SCALE.md token_budget note: the keyed restatement removes the "
        "all-rows-to-one-task stage entirely."
    ),
    "global-sort": (
        "If only the top k rows matter, orderBy(...).limit(k) compiles "
        "to TakeOrderedAndProject (per-partition heaps, no "
        "range-partitioned global sort). SCALE.md sort_topk: the "
        "audited 0-extra-shuffle top-k plan."
    ),
    "python-udf": (
        "Replace with built-in Column functions, or pandas_udf / "
        "mapInPandas (Arrow-batched, 10-100x less overhead). SCALE.md "
        "'UDF surface': every hot-path gate in this repo is JVM-side "
        "or Arrow-batched; only the faithful custom-aggregate hook "
        "stays row-at-a-time."
    ),
    "arrow-python": (
        "Acceptable off the hot path; where a JVM Column expression "
        "exists, prefer it — SCALE.md minhash/ann rows: the vectorized "
        "expression pipelines run 0-shuffle map-side."
    ),
    "unpushed-filter": (
        "Filter on raw columns first (no cast/UDF around the column), "
        "so the predicate reaches PushedFilters on the scan; derive "
        "expressions AFTER the filter. SCALE.md tpch_q1/q6: "
        "pushed-filter scans are the single-scan aggregate recipe."
    ),
    "fact-broadcast": (
        "Guard the scaling side with .hint('merge') (never "
        "shuffle_hash — the SHJ build cannot spill), or make the cut "
        "scan-level. SCALE.md 'Round-14 fix: tpch_q9': the merge hint "
        "was 2.8x at sf10 (12.3x -> ~4.7x suite ratio) and holds at "
        "1000x."
    ),
    "dim-cut-not-broadcast": (
        "Wrap the dim-cut side in F.broadcast(), or collapse it to a "
        "scan-level isin() over the collected fixed-size key set. "
        "SCALE.md 'Round-15: tpch_q11': one F.broadcast() on the cut "
        "= 5.8x at sf100 (30.4 -> 6.2 ratio-to-calib)."
    ),
    "unpruned-partitioned-scan": (
        "Filter the partition column with literal predicates (UDF- or "
        "join-derived bounds cannot prune statically; dynamic pruning "
        "needs an equi-join on the partition key). SCALE.md r17 "
        "partitioned-layout A/B: 7.3x fewer bytes read (1.40x wall on "
        "a page-cached single box; the bytes ratio is the cluster "
        "number)."
    ),
    "broadcast-fanout-budget": (
        "Verify the post-filter build size, or prefer a shuffle join "
        "/ bloom semi-join past the budget (operators.maintenance."
        "bloom_semi_join). SCALE.md 'single-box broadcast caveat': a "
        "wash at local[32] still ships build x executor-count "
        "cluster-wide."
    ),
    "wide-scan": (
        "select() the needed columns immediately after the read so "
        "column pruning reaches ReadSchema. SCALE.md late-"
        "materialization notes (q16): narrow keys through the "
        "exchanges, wide strings attached post-aggregate — 3.2x at "
        "sf100."
    ),
}


@dataclass
class Finding:
    code: str
    severity: str  # "error" | "warn" | "info"
    message: str

    def __str__(self) -> str:  # pragma: no cover - repr convenience
        return f"[{self.severity}] {self.code}: {self.message}"

    @property
    def suggestion(self) -> str:
        """The measured fix recipe for this finding's code (r18) —
        empty string for codes without one (none today; the test suite
        pins full coverage)."""
        return SUGGESTIONS.get(self.code, "")


def plan_text(df: DataFrame) -> str:
    """The formatted physical plan as text (the accessor the audit uses)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# --- formatted-plan tree parsing (for the subtree-shape rules) --------

_NODE_RE = re.compile(r"^([\s:+\-*]*)(\S.*?)\s*\((\d+)\)\s*$")


def _tree_nodes(p: str) -> list[tuple[int, str, int]]:
    """(node_id, node_name, indent_column) per line of the plan tree.

    Formatted mode prints the tree between ``== Physical Plan ==`` and
    the first blank line; indent column encodes parent/child (children
    are strictly deeper), so a node's subtree is the run of following
    nodes with a larger column."""
    nodes: list[tuple[int, str, int]] = []
    in_tree = False
    for ln in p.splitlines():
        if ln.startswith("== Physical Plan =="):
            in_tree = True
            continue
        if in_tree:
            if not ln.strip():
                break
            m = _NODE_RE.match(ln)
            if m:
                nodes.append(
                    (int(m.group(3)), m.group(2).strip(), len(m.group(1)))
                )
    return nodes


def _all_trees(p: str) -> list[list[tuple[int, str, int]]]:
    """EVERY plan tree in the formatted text: the main
    ``== Physical Plan ==`` tree plus each subquery's tree (the
    ``===== Subqueries =====`` section prints one per scalar/IN
    subquery). Trees are maximal runs of consecutive node lines; they
    must stay separate because indent columns are only comparable
    within one tree (a subquery root's column would otherwise read as
    a descendant of the previous tree's leaves). Detail-block lines
    (``(N) Name``, ``Arguments: ...``) do not match the node pattern,
    so blocks terminate runs naturally."""
    trees: list[list[tuple[int, str, int]]] = []
    seen: set[tuple[int, ...]] = set()
    cur: list[tuple[int, str, int]] = []

    def _flush() -> None:
        # a ReusedSubquery prints the same tree (same node ids) twice —
        # lint it once, not once per print. Single-node runs are kept
        # only when the node is a Scan: a bare `spark.read.csv(dir)`
        # prints a one-node tree (no ColumnarToRow, no exchange) and
        # the partitioned-scan rule must still see it, while other
        # stray single "Name (N)" lines stay excluded.
        if len(cur) >= 2 or (len(cur) == 1 and cur[0][1].startswith("Scan ")):
            sig = tuple(nid for nid, _nm, _c in cur)
            if sig not in seen:
                seen.add(sig)
                trees.append(list(cur))
        cur.clear()

    for ln in p.splitlines():
        m = _NODE_RE.match(ln)
        if m:
            cur.append(
                (int(m.group(3)), m.group(2).strip(), len(m.group(1)))
            )
        else:
            _flush()
    _flush()
    return trees


def _node_blocks(p: str) -> dict[int, str]:
    """node_id -> its detail block (the ``(N) Name`` sections)."""
    blocks: dict[int, list[str]] = {}
    cur: int | None = None
    for ln in p.splitlines():
        m = re.match(r"^\((\d+)\) \S", ln)
        if m:
            cur = int(m.group(1))
            blocks[cur] = [ln]
        elif cur is not None:
            blocks[cur].append(ln)
    return {k: "\n".join(v) for k, v in blocks.items()}


def _subtree(nodes: list[tuple[int, str, int]], i: int) -> list[int]:
    """Indices of node i's descendants (strictly deeper columns)."""
    col = nodes[i][2]
    out = []
    for j in range(i + 1, len(nodes)):
        if nodes[j][2] <= col:
            break
        out.append(j)
    return out


def _ancestors(
    nodes: list[tuple[int, str, int]], i: int, j: int
) -> list[int]:
    """Indices of node j's ancestors strictly between subtree root i
    (exclusive) and j: walking backward, each node with a smaller
    column than everything seen so far is the next ancestor up."""
    out: list[int] = []
    cur_col = nodes[j][2]
    for k in range(j - 1, i, -1):
        if nodes[k][2] < cur_col:
            out.append(k)
            cur_col = nodes[k][2]
    return out


def _scan_tables(
    nodes: list[tuple[int, str, int]],
    idxs: list[int],
    blocks: dict[int, str],
    known: frozenset[str],
) -> set[str]:
    """Known table names scanned anywhere among the given node indices.

    Identity comes from the scan's Location path segments (file scans)
    or the catalog-qualified name in the node line (table scans)."""
    found: set[str] = set()
    if not known:  # empty vocabulary would regex-match everywhere
        return found
    pat = re.compile(
        r"(?:[/\\]|\bdefault\.)("
        + "|".join(sorted(known))
        + r")(?=\.parquet\b|\.csv\b|\.json\b|\.orc\b|[/\\\],\s]|$)",
        re.I,
    )
    for j in idxs:
        nid, name, _ = nodes[j]
        if not name.startswith("Scan "):
            continue
        text = name + "\n" + blocks.get(nid, "")
        loc = re.search(r"Location: [^\n]*", text)
        hay = (loc.group(0) if loc else "") + "\n" + name
        for m in pat.finditer(hay):
            found.add(m.group(1).lower())
    return found


_SIZE_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_size(v: str) -> int:
    """Spark size-conf string ('67108864', '64MB', '-1') -> bytes."""
    m = re.match(r"^\s*(-?\d+)\s*([a-zA-Z]*)\s*$", str(v))
    if not m:
        return -1
    return int(m.group(1)) * _SIZE_UNITS.get(m.group(2).lower(), 1)


def _broadcast_threshold(df: DataFrame) -> int:
    """The session's effective broadcast threshold in bytes.

    -1 (broadcasts disabled) still leaves EXPLICIT F.broadcast() hints
    possible, so the rules fall back to FALLBACK_BROADCAST_THRESHOLD
    (this repo's 64 MB session default — NOT Spark's 10 MB default;
    override the constant to match your deployment)."""
    try:
        thr = _parse_size(
            df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except Exception:
        thr = -1
    return thr if thr > 0 else FALLBACK_BROADCAST_THRESHOLD


def _location_bytes(block: str) -> int | None:
    """On-disk bytes of a scan's Location paths (driver-side stat only).

    None when the location is unreadable (catalog table, remote FS) —
    the rules stay silent rather than guess. A truncated path list
    ('...') undercounts, which only makes the rules MORE conservative."""
    m = re.search(r"Location: \w+ \[([^\]]*)\]", block or "")
    if not m:
        return None
    total, seen = 0, False
    for raw in m.group(1).split(","):
        path = raw.strip()
        if not path or path == "...":
            continue
        if path.startswith("file:"):
            path = path[5:]
        if os.path.isfile(path):
            total += os.path.getsize(path)
            seen = True
        elif os.path.isdir(path):
            for dp, _dns, fns in os.walk(path):
                total += sum(
                    os.path.getsize(os.path.join(dp, fn)) for fn in fns
                )
            seen = True
    return total if seen else None


def _scan_bytes(
    nodes: list[tuple[int, str, int]],
    idxs: list[int],
    blocks: dict[int, str],
    cache: dict[int, tuple[str, int] | None] | None = None,
) -> list[tuple[str, int]]:
    """(scan name, on-disk bytes) per file scan among the indices,
    skipping partition-pruned scans (raw dir bytes overstate them).

    ``cache`` (node id -> result) amortizes the os.walk/getsize stats
    across rules within one lint_plan call — the pricing traps and the
    fan-out budget both price the same BroadcastExchange subtrees."""
    out = []
    for j in idxs:
        nid, nm, _c = nodes[j]
        if not nm.startswith("Scan "):
            continue
        if cache is not None and nid in cache:
            if cache[nid] is not None:
                out.append(cache[nid])
            continue
        block = blocks.get(nid, "")
        entry: tuple[str, int] | None = None
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", block)
        if not (pf and pf.group(1).strip()):
            b = _location_bytes(block)
            if b is not None:
                entry = (nm, b)
        if cache is not None:
            cache[nid] = entry
        if entry is not None:
            out.append(entry)
    return out


def _scan_label(
    node: tuple[int, str, int], blocks: dict[int, str]
) -> str:
    """Human-readable identity for a scan the vocabulary cannot name —
    the last path segment of its Location (the on-disk table/dir name),
    falling back to the node name. Used only in finding messages."""
    nid, name, _c = node
    m = re.search(r"Location: \w+ \[([^\],]*)", blocks.get(nid, ""))
    if m:
        seg = m.group(1).strip().rstrip("/\\").removeprefix("file:")
        base = os.path.basename(seg)
        if base:
            return base
    return name


def _partition_cols(root: str) -> list[str]:
    """Hive-partition column names of an on-disk layout (``k=v``
    subdirectory levels under ``root``), outermost first. Empty when the
    path is unreadable or unpartitioned — the rule stays silent."""
    cols: list[str] = []
    path = root
    for _depth in range(10):
        try:
            subs = [
                d for d in os.listdir(path)
                if "=" in d and os.path.isdir(os.path.join(path, d))
            ]
        except OSError:
            return cols
        keys = {d.split("=", 1)[0] for d in subs}
        if len(keys) != 1:
            return cols
        key = keys.pop()
        if not re.match(r"^[\w.]+$", key):
            return cols
        cols.append(key)
        path = os.path.join(path, subs[0])
    return cols


def _children(
    nodes: list[tuple[int, str, int]], i: int
) -> list[list[int]]:
    """Partition node i's descendants into per-direct-child subtrees."""
    sub = _subtree(nodes, i)
    if not sub:
        return []
    mincol = min(nodes[j][2] for j in sub)
    out: list[list[int]] = []
    for j in sub:
        if nodes[j][2] == mincol:
            out.append([j])
        elif out:
            out[-1].append(j)
    return out


def lint_plan(
    df: DataFrame,
    fact_tables: frozenset[str] | None = None,
    dim_tables: frozenset[str] | None = None,
    fanout_budget: int | None = None,
) -> list[Finding]:
    """Lint the DataFrame's physical plan; returns findings worst-first.

    Driver-side plan-string inspection only — nothing is executed.
    ``fact_tables`` / ``dim_tables`` parameterize the two static-pricing
    rules (default: this repo's test schema) — pass your own table
    names to lint queries over another schema. ``fanout_budget``
    (bytes, default FANOUT_BUDGET = 100 MB) parameterizes the info-tier
    broadcast fan-out advisory; 0 disables it."""
    # drop falsy names defensively: an empty string would become an
    # empty regex alternation in _scan_tables and match everywhere
    facts = (
        FACT_TABLES
        if fact_tables is None
        else frozenset(t for t in fact_tables if t)
    )
    dims = (
        DIM_TABLES
        if dim_tables is None
        else frozenset(t for t in dim_tables if t)
    )
    budget = FANOUT_BUDGET if fanout_budget is None else fanout_budget
    p = plan_text(df)
    blocks = _node_blocks(p)
    trees = _all_trees(p)
    findings: list[Finding] = []

    if "CartesianProduct" in p:
        findings.append(Finding(
            "cartesian-product", "error",
            "CartesianProduct in plan: cost is |left| x |right|. Add an "
            "equi-join key, or bucket/LSH the similarity condition "
            "(see operators.dedup / operators.temporal for shapes)."))
    # per-join (r17 review fix): a BNLJ is benign when ITS OWN subtree
    # holds a local/driver-side relation (createDataFrame prints "Scan
    # ExistingRDD" on the Arrow path, literals "LocalTableScan") — a
    # whole-text check both missed that spelling and let one benign
    # local scan bless every other BNLJ in the plan
    _LOCAL_SCANS = ("LocalTableScan", "Scan ExistingRDD", "Scan OneRowRelation")
    for tree in trees:
        fired = False
        for idx, (_nid, nm, _c) in enumerate(tree):
            if not nm.startswith("BroadcastNestedLoopJoin"):
                continue
            # a BNLJ's |A| x |B| cost is linear when EITHER side is
            # provably tiny (r17 second-review fix, refined): a side is
            # tiny when ALL its leaves are local/driver relations, or
            # its top node is a KEYLESS aggregate (1 row — the
            # attach-the-global-stat crossJoin shape this linter's own
            # global-window message recommends). Per-SIDE, because a
            # local scan merely present in a union on the stream side
            # must not bless a file-vs-file join — and Spark may build
            # whichever side prices smaller, so build-only is wrong.
            def _side_tiny(kid: list[int]) -> bool:
                start = 0
                if (
                    tree[kid[0]][1].startswith("BroadcastExchange")
                    and len(kid) >= 2
                ):
                    start = 1
                top_nid, top_nm, _tc = tree[kid[start]]
                if top_nm.startswith(_AGG_NODES) and re.search(
                    r"Keys: \[\]", blocks.get(top_nid, "")
                ):
                    return True
                leaves = [
                    j
                    for j in kid
                    if tree[j][1].startswith(("Scan ", "LocalTableScan"))
                ]
                return bool(leaves) and all(
                    tree[j][1].startswith(_LOCAL_SCANS) for j in leaves
                )

            kids = _children(tree, idx)
            if len(kids) == 2 and any(_side_tiny(k) for k in kids):
                continue
            findings.append(Finding(
                "nested-loop-join", "warn",
                "BroadcastNestedLoopJoin over file scans: fine for a "
                "broadcast 1-row bounds table, quadratic for anything "
                "else. Check the build side is O(1)-sized."))
            fired = True
            break
        if fired:
            break
    # per-window (r17 review fix): the error means THIS window's input
    # is single-partition — the first Exchange on the window's input
    # chain must say SinglePartition. The old whole-text co-occurrence
    # check fired on a healthy keyed window plus an unrelated global
    # aggregate elsewhere in the plan.
    global_window = False
    for tree in trees:
        for idx, (_nid, nm, _c) in enumerate(tree):
            # Python-backed window execs too — a pandas window over
            # SinglePartition is the same all-rows-to-one-task shape
            # (r17 review fix; Spark 4 prints ArrowWindowPython, older
            # releases WindowInPandas)
            if nm not in (
                "Window",
                "ArrowWindowPython",
                "WindowInPandas",
                "WindowGroupLimit",
            ):
                continue
            # walk ONLY the single-child input spine: a pre-order scan
            # would hit an exchange inside a sibling broadcast-build
            # branch first (r17 second-review fix — a keyed window over
            # a crossJoin false-fired off the build's global-agg
            # exchange). A multi-child node means the window's
            # distribution was satisfied below the join — stop.
            cur = idx
            while True:
                kids = _children(tree, cur)
                if len(kids) != 1:
                    break
                cur = kids[0][0]
                cn, cm, _cc = tree[cur]
                if cm.startswith("Exchange"):
                    if "SinglePartition" in blocks.get(cn, ""):
                        global_window = True
                    break
            if global_window:
                break
        if global_window:
            break
    if global_window:
        findings.append(Finding(
            "global-window", "error",
            "Window over Exchange SinglePartition: ALL rows move to one "
            "task. partitionBy an entity key, or restate as running sums "
            "over a bounded aggregate (see SCALE.md token_budget note)."))
    # formatted mode splits "Sort" and its "Arguments: [...], global,
    # offset" detail onto separate lines — the global flag lives in the
    # node's block (p is always formatted here: plan_text's default).
    # No whole-text TakeOrderedAndProject suppression (r17 review fix):
    # orderBy().limit(k) compiles to TOAP with NO Sort node at all, so
    # any global Sort node that exists is by definition not the top-k
    # shape — an unrelated TOAP elsewhere must not hide it.
    global_sort = any(
        nm == "Sort"
        and re.search(r"Arguments: \[[^\]]*\], true,", blocks.get(nid, ""))
        for tree in trees
        for nid, nm, _c in tree
    )
    if global_sort:
        findings.append(Finding(
            "global-sort", "warn",
            "Global sort without a limit: a full range-partitioned sort. "
            "If only the top k matter, orderBy(...).limit(k) becomes "
            "TakeOrderedAndProject (per-partition heaps)."))
    if "BatchEvalPython" in p:
        findings.append(Finding(
            "python-udf", "error",
            "Row-at-a-time Python UDF (BatchEvalPython): 10-100x slower "
            "than Arrow. Use built-in Column functions, or pandas_udf / "
            "mapInPandas if Python is unavoidable."))
    if "ArrowEvalPython" in p or "MapInPandas" in p:
        findings.append(Finding(
            "arrow-python", "info",
            "Arrow-batched Python stage present: acceptable off the hot "
            "path; prefer JVM Column expressions where one exists."))

    # unpushed filter (r17 review fix — per scan, not whole-text): a
    # Filter sitting DIRECTLY above a scan whose PushedFilters field is
    # present but empty is the canonical "predicate wrapped in a
    # non-pushable expression" shape. The old all()-scans check let one
    # pushed scan hide another scan's miss; requiring the Filter to be
    # the scan's immediate ancestor (through pass-through nodes) keeps
    # legitimate post-join filters silent.
    _PASSTHROUGH = ("ColumnarToRow", "InputAdapter", "Project")
    unpushed = False
    for tree in trees:
        for idx, (nid, nm, _c) in enumerate(tree):
            # pushdown-capable formats only — and formatted mode OMITS
            # the PushedFilters line entirely when nothing pushed (same
            # omission as PartitionFilters), so absence means empty
            if not nm.startswith(("Scan parquet", "Scan orc")):
                continue
            pfm = re.search(
                r"PushedFilters: \[([^\]]*)\]", blocks.get(nid, "")
            )
            if pfm is not None and pfm.group(1).strip():
                continue  # pushdown happened
            for k in _ancestors(tree, -1, idx):
                name = tree[k][1]
                if name.startswith(_PASSTHROUGH):
                    continue
                if name.startswith("Filter"):
                    unpushed = True
                break
            if unpushed:
                break
        if unpushed:
            break
    if unpushed:
        findings.append(Finding(
            "unpushed-filter", "warn",
            "Filter sits directly above a scan whose PushedFilters is "
            "empty: the predicate may wrap the column in a non-pushable "
            "expression (cast/UDF). Filter on raw columns first."))

    # --- the two static-pricing traps (seen 5x across rounds 12-15:
    # q2/q5/q11 over-priced a dim cut out of its broadcast; q9/q21
    # under-priced a narrow fact projection INTO one). Both are
    # size-only-estimator artifacts that ANALYZE statistics would fix
    # on a managed deployment; in a stats-less job the guard must be
    # explicit, so the linter surfaces them for any user query.
    thr = _broadcast_threshold(df)
    bytes_cache: dict[int, tuple[str, int] | None] = {}
    for nodes in trees:
        _lint_pricing_traps(
            nodes, blocks, thr, facts, dims, findings, bytes_cache
        )
        if budget > 0:
            _lint_fanout_budget(nodes, blocks, budget, findings, bytes_cache)

    # unpruned partitioned scan: the layout is hive-partitioned (k=v
    # dirs) but PartitionFilters is empty — the scan reads EVERY
    # partition. At datalake scale partition pruning is the single
    # biggest lever (a day-partitioned 100 TB table read for one day is
    # a 365x cut), so an unbounded read of a partitioned layout is
    # worth a line even when legitimate (full-table rollups). Info
    # tier: the linter cannot know the query's intent.
    seen_part_roots: set[str] = set()
    for nid, nm, _c in (n for tree in trees for n in tree):
        if not nm.startswith("Scan "):
            continue
        block = blocks.get(nid, "")
        # formatted mode omits the PartitionFilters line entirely when
        # none apply — absent and "[]" both mean unpruned; the on-disk
        # layout check below is what distinguishes "unpartitioned"
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", block)
        if pf is not None and pf.group(1).strip():
            continue  # pruned — correct plan
        loc = re.search(r"Location: \w+ \[([^\],]*)", block)
        root = (loc.group(1) if loc else "").removeprefix("file:")
        if not root or root in seen_part_roots:
            continue
        pcols = _partition_cols(root)
        if pcols:
            seen_part_roots.add(root)
            findings.append(Finding(
                "unpruned-partitioned-scan", "info",
                f"Scan of a layout partitioned by {pcols} has no "
                "PartitionFilters: every partition is read. If the "
                "query can bound the partition column, filter on it "
                "directly with literal/partition-evaluable predicates "
                "(a UDF- or join-derived bound cannot prune "
                "statically; dynamic partition pruning needs an "
                "equi-join on the partition key)."))

    # wide scan: ReadSchema lists many columns but the plan projects few
    # (r17 review fix: check EVERY scan's schema, not just the first —
    # the wide fact behind a narrow dim was invisible)
    widths = [
        len([c for c in m.group(1).split(",") if ":" in c])
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", p)
    ]
    if widths and max(widths) > 24:
        findings.append(Finding(
            "wide-scan", "info",
            f"Scan reads {max(widths)} columns — if the query needs "
            "few, select() early so column pruning reaches the reader."))

    order = {"error": 0, "warn": 1, "info": 2}
    findings.sort(key=lambda f: order[f.severity])
    return findings


def _lint_pricing_traps(
    nodes: list[tuple[int, str, int]],
    blocks: dict[int, str],
    thr: int,
    facts: frozenset[str],
    dims: frozenset[str],
    findings: list[Finding],
    cache: dict[int, tuple[str, int] | None] | None = None,
) -> None:
    """The two static-pricing trap rules over ONE plan tree (the main
    tree or a subquery's) — appends findings in place."""

    for i, (nid, name, _col) in enumerate(nodes):
        if name.startswith("BroadcastExchange"):
            # Trap (a), the q9/q21 shape: a statically-planned broadcast
            # whose build scans a table that is ITSELF over the broadcast
            # threshold. The plan chose broadcast, so the size-only
            # estimate (file bytes x column-ratio) priced the cut under
            # the threshold — but the build's ROW count is the table's,
            # so the actual HashedRelation scales with the data (q9 at
            # sf10: a 40 MB estimate, a 15M-row ~240 MB actual — and at
            # the next scale-up it is driver-killing). An aggregate
            # bounds the build by group count, so a scan BELOW one is
            # exempt — per branch, not per exchange (r17 review fix: a
            # build joining an aggregated dim branch with a raw fact
            # branch is still the trap; the old any-agg-in-subtree test
            # let the dim branch's aggregate silence the fact branch).
            big = [
                (nm, b)
                for nm, b in _unbounded_scan_bytes(nodes, i, blocks, cache)
                if b >= thr
            ]
            if big:
                mb = _fmt_bytes(max(b for _nm, b in big))
                findings.append(Finding(
                    "fact-broadcast", "warn",
                    "BroadcastExchange build scans a table whose raw "
                    f"bytes ({mb}) exceed the broadcast threshold "
                    f"({_fmt_bytes(thr)}): the size-only estimator "
                    "priced a narrow projection at file-size x "
                    "column-ratio, UNDER the threshold, but the build's "
                    "row count is the table's — the actual HashedRelation "
                    "grows with the data and lands on every executor. "
                    "Guard with .hint('merge') on the scaling side, or "
                    "ANALYZE TABLE for real statistics."))
        elif name.startswith(("SortMergeJoin", "ShuffledHashJoin")):
            # Trap (b), the q2/q5/q11 shape: a shuffle join whose build
            # side only scans whitelisted small dims (a dim CUT — priced
            # at the bytes-PRODUCT of its children, over the threshold
            # however narrow) while the probe side scans a big table:
            # the plan exchanges the ENTIRE fact on the join key, a
            # shuffle AQE's late broadcast flip cannot un-spend.
            kids = _children(nodes, i)
            if len(kids) != 2:
                continue
            # broadcastability depends on the join type: the PRESERVED
            # side of an outer join cannot be the broadcast build
            # (Spark supports BuildRight for inner/left-family joins,
            # BuildLeft for inner/right-outer, neither for full outer)
            # — without this, q13/join_left's customer side (the
            # preserved left of a LeftOuter) reads as a false positive
            jm = re.search(r"Join type: (\w+)", blocks.get(nid, ""))
            jt = jm.group(1) if jm else (
                name.split()[1] if len(name.split()) > 1 else "Inner"
            )
            left_ok = jt in ("Inner", "Cross", "RightOuter")
            right_ok = jt in (
                "Inner", "Cross", "LeftOuter", "LeftSemi", "LeftAnti",
            ) or jt.startswith("ExistenceJoin")
            known = facts | dims
            dim_floor = int(thr * DIM_CLASS_FRACTION)
            sides = []
            for kid in kids:
                kf = _scan_tables(nodes, kid, blocks, facts)
                kd = _scan_tables(nodes, kid, blocks, dims)
                big = any(
                    b >= thr for _nm, b in _scan_bytes(nodes, kid, blocks, cache)
                )
                # size-class inference (r18, replaces the r17 blanket
                # unknown guard): a scan the vocabulary cannot name is
                # classified by its OWN raw bytes — under the dim floor
                # it is dim-class (its label joins the message), at or
                # over the threshold it is fact-class (already counted
                # into `big` by the check above), and the ambiguous
                # middle — or an unreadable location (Scan ExistingRDD,
                # remote FS) — keeps the side un-classifiable, so the
                # rule stays silent for it rather than guess
                unknown = False
                for j in kid:
                    if not nodes[j][1].startswith("Scan "):
                        continue
                    if _scan_tables(nodes, [j], blocks, known):
                        continue
                    bs = _scan_bytes(nodes, [j], blocks, cache)
                    b = bs[0][1] if bs else None
                    if b is not None and b <= dim_floor:
                        kd.add(_scan_label(nodes[j], blocks))
                    elif b is None or b < thr:
                        unknown = True
                sides.append((kf, kd, big, unknown))
            for a, b in ((0, 1), (1, 0)):
                if not (left_ok if a == 0 else right_ok):
                    continue
                a_facts, a_dims, a_big, a_unknown = sides[a]
                b_facts, _b_dims, b_big, _b_unknown = sides[b]
                # a_big guard: a dims-only build whose scans are
                # THEMSELVES over the threshold (customer at sf100 is
                # 2.4 GB) must not be advised into a broadcast — that
                # SMJ is the correct plan (the adjudicated q5
                # customer-side shape, SCALE.md r13)
                if a_dims and not a_facts and not a_big and not a_unknown and (
                    b_facts or b_big
                ):
                    findings.append(Finding(
                        "dim-cut-not-broadcast", "warn",
                        f"{name.split()[0]} shuffles a fact side "
                        f"({sorted(b_facts) or 'big scan'}) against a "
                        f"build that only scans small dims "
                        f"({sorted(a_dims)}). A join-derived dim cut is "
                        "priced at the bytes-PRODUCT of its children — "
                        "over the broadcast threshold however narrow the "
                        "cut — so the plan exchanges the ENTIRE fact on "
                        "the join key, a shuffle AQE's late broadcast "
                        "flip cannot un-spend (q11: one F.broadcast() on "
                        "the cut = 5.8x at sf100). Wrap the dim-cut side "
                        "in F.broadcast(), or make the cut scan-level "
                        "(isin over a collected fixed-size key set — the "
                        "q5 recipe)."))
                    break


def _unbounded_scan_bytes(
    nodes: list[tuple[int, str, int]],
    i: int,
    blocks: dict[int, str],
    cache: dict[int, tuple[str, int] | None] | None = None,
) -> list[tuple[str, int]]:
    """(name, bytes) for each file scan under node i that is NOT below
    an aggregate within i's subtree — an aggregate bounds that BRANCH's
    cardinality by group count (which static bytes cannot price), but
    exempts only its own branch, never sibling branches."""
    out: list[tuple[str, int]] = []
    for j in _subtree(nodes, i):
        if not nodes[j][1].startswith("Scan "):
            continue
        if any(
            nodes[k][1].startswith(_AGG_NODES)
            for k in _ancestors(nodes, i, j)
        ):
            continue
        out.extend(_scan_bytes(nodes, [j], blocks, cache))
    return out


def _lint_fanout_budget(
    nodes: list[tuple[int, str, int]],
    blocks: dict[int, str],
    budget: int,
    findings: list[Finding],
    cache: dict[int, tuple[str, int] | None] | None = None,
) -> None:
    """Info-tier broadcast fan-out advisory over ONE plan tree.

    A broadcast that measures as a wash on a single box (one JVM holds
    one copy) still ships the build to EVERY executor on a real cluster
    — build-size x executor-count of network and heap. This rule flags
    any ADOPTED BroadcastExchange whose build is bounded below the sky
    only by scans totalling >= budget raw bytes. The bound is the raw
    unpruned on-disk bytes of the scans under the exchange — filters
    shrink the build below it, joins can grow it past it — so the
    message reports it as what it is: the bytes ENTERING the build
    pipeline, not the HashedRelation's size. Aggregates below the
    exchange bound the build by group count, which a static lint cannot
    price, so those stay silent (consistent with the trap rules'
    stay-silent-rather-than-guess posture). One finding per tree (the
    largest offender) keeps repeated subquery prints readable."""
    worst: int | None = None
    for i, (_nid, name, _col) in enumerate(nodes):
        if not name.startswith("BroadcastExchange"):
            continue
        total = sum(
            b for _nm, b in _unbounded_scan_bytes(nodes, i, blocks, cache)
        )
        if total >= budget and (worst is None or total > worst):
            worst = total
    if worst is not None:
        findings.append(Finding(
            "broadcast-fanout-budget", "info",
            f"Adopted broadcast build reads {_fmt_bytes(worst)} raw "
            f"(budget {_fmt_bytes(budget)}): on a cluster the built "
            "relation lands on EVERY executor — build-size x "
            "executor-count of network and heap, even when a single-box "
            "A/B measures it as a wash. Verify the post-filter build "
            "size, or prefer a shuffle join / bloom semi-join past this "
            "size."))


def _fmt_bytes(n: int | float) -> str:
    for unit, div in (("GB", 1 << 30), ("MB", 1 << 20), ("KB", 1 << 10)):
        if n >= div:
            return f"{n / div:.1f} {unit}"
    return f"{n:.0f} B"
