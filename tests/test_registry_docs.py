"""Registry/doc consistency: the gate count printed in COVERAGE.md and
README.md must equal the live ``queries()`` registry (round-3 verdict asked
for an automated drift check after the docs oscillated), and every gate
must have an oracle twin."""

import ast
import pathlib
import re
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry_mod  # noqa: E402


def test_gate_count_matches_docs():
    n = len(entry_mod.queries())
    cov = (REPO / "COVERAGE.md").read_text()
    readme = (REPO / "README.md").read_text()
    m = re.search(r"(\d+) gate queries", cov)
    assert m and int(m.group(1)) == n, f"COVERAGE.md says {m and m.group(1)}, registry has {n}"
    for claim in re.findall(r"(\d+) (?:gate )?quer", readme):
        assert int(claim) == n, f"README.md says {claim}, registry has {n}"


# gates that intentionally have NO SQL oracle (not SQL-expressible; the
# driver records a weaker rows-only check for these, by design)
ROWS_ONLY_GATES = {"compression_ratio"}  # zlib: not SQL (pca value-hashed since r11)


def test_every_gate_has_oracle():
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert set(qs) - set(osql) == ROWS_ONLY_GATES, (
        sorted((set(qs) - set(osql)) ^ ROWS_ONLY_GATES)
    )
    assert not set(osql) - set(qs), sorted(set(osql) - set(qs))


def test_registry_keys_unique_and_callable():
    qs = entry_mod.queries()
    assert all(callable(v) for v in qs.values())


def test_every_tool_is_listed_in_verify_skill():
    """The verify skill's Tools list names exactly the scripts under
    tools/: a new tool must say what it is for, and a deleted one must
    leave the list."""
    skill = (REPO / ".claude/skills/verify/SKILL.md").read_text()
    section = skill.split("\n## Tools\n", 1)[1].split("\n## ", 1)[0]
    listed = set(re.findall(r"^- `tools/(\w+\.py)`", section, re.M))
    on_disk = {p.name for p in (REPO / "tools").glob("*.py")}
    assert listed == on_disk, sorted(listed ^ on_disk)


def test_every_public_def_has_a_consumer():
    """Every top-level public def in ``bun_csv_spark/`` has a consumer
    outside ``tests/``: its name appears in some other ``.py`` file or
    elsewhere in its own (a gate, a tool, the CLI, the benchmark, another
    library module), or it is a reference feature named in backticks in
    COVERAGE.md. Code whose only consumer is its own test fails here."""
    sources = {
        p: p.read_text()
        for p in REPO.rglob("*.py")
        if not ({"tests", "spark-warehouse"} & set(p.relative_to(REPO).parts))
        and not any(x.startswith(".") for x in p.relative_to(REPO).parts)
    }
    covered = {
        name
        for span in re.findall(r"`([^`\n]+)`", (REPO / "COVERAGE.md").read_text())
        for name in re.findall(r"\w+", span)
    }
    orphans = []
    for path in sorted((REPO / "bun_csv_spark").rglob("*.py")):
        tree = ast.parse(sources[path])
        lines = sources[path].splitlines(keepends=True)
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_") or node.name in covered:
                continue
            word = re.compile(rf"\b{node.name}\b")
            own = "".join(lines[node.lineno - 1 : node.end_lineno])
            uses = sum(len(word.findall(text)) for text in sources.values())
            if uses == len(word.findall(own)):
                orphans.append(f"{path.relative_to(REPO)}:{node.lineno} {node.name}")
    assert not orphans, orphans


def test_temp_state_goes_through_the_scratch_root():
    """Only ``bun_csv_spark/scratch.py`` makes temp files or directories of
    its own. Every other writer in the library and the gates goes under its
    per-process root, which the owner's exit or the next process's reap
    removes, so no temp state outlives the process that wrote it."""
    bare = re.compile(
        r"\b(mkdtemp|NamedTemporaryFile|gettempdir|TemporaryDirectory)\s*\("
    )
    hits = [
        f"{p.relative_to(REPO)}:{n}"
        for top in ("bun_csv_spark", "gates")
        for p in sorted((REPO / top).rglob("*.py"))
        if p != REPO / "bun_csv_spark" / "scratch.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if bare.search(line)
    ]
    assert not hits, hits


def test_no_script_hard_codes_its_checkout():
    """Tools and tests find the repo from ``__file__``. A script that
    hard-codes this checkout's absolute path makes a copy of the repo run
    elsewhere import this checkout's registry instead of its own."""
    here = str(REPO)
    hits = [
        str(p.relative_to(REPO))
        for p in REPO.rglob("*.py")
        if p.relative_to(REPO).parts[0] not in ("perfbench", "spark-warehouse")
        and not p.relative_to(REPO).parts[0].startswith(".")
        and here in p.read_text()
    ]
    assert not hits, hits
