"""Round-18: lint foreign-schema inference + CLI precision fixes.

  * r17 ADVICE fixes, each pinned by a law test: `lint --explain -f
    json` keeps stdout pure JSON (plan text routes to stderr);
    the partitioned-CSV lint branch forwards --comments and WARNS on
    the reader flags it cannot honor; delimiter auto-detection samples
    .tsv/.txt leaves (the same extensions _looks_like_parquet routes
    to the CSV branch), not just .csv.
  * fact/dim size-class INFERENCE for the static-pricing rules
    (VERDICT r17 #2): a scan the fact_tables/dim_tables vocabulary
    cannot name is classified by its raw on-disk bytes against the
    session broadcast threshold — >= threshold is fact-class, <=
    threshold * DIM_CLASS_FRACTION is dim-class, the ambiguous middle
    stays silent exactly as the r17 unknown-guard did. Explicit names
    always override the inference.
"""

from __future__ import annotations

import contextlib
import json
import threading

import pytest
from pyspark.sql import functions as F

from bun_csv_spark.cli.main import main
from bun_csv_spark.plans.lint import lint_plan

SF = "/root/testdata/sf0.001"


def _t(spark, name):
    return spark.read.parquet(f"{SF}/{name}.parquet")


@contextlib.contextmanager
def _threshold(spark, value):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def run_cli(capsys, spark, argv):
    rc = main(argv, spark=spark)
    out = capsys.readouterr()
    return rc, out.out, out.err


# --- r17 ADVICE fixes ---------------------------------------------------


def test_cli_lint_explain_json_stdout_stays_json(capsys, spark, tmp_path):
    """-f json + --explain: stdout must remain machine-parseable JSON
    (the advertised CI contract) — the plan text goes to stderr."""
    d = str(tmp_path / "by_day")
    (
        spark.range(20)
        .withColumn("day", (F.col("id") % 2).cast("string"))
        .write.partitionBy("day")
        .parquet(d)
    )
    rc, out, err = run_cli(
        capsys, spark, ["-f", "json", "lint", "--explain", d]
    )
    assert rc == 0  # info-only findings never gate
    rows = json.loads(out)  # raises if the plan leaked into stdout
    assert {r["code"] for r in rows} == {"unpruned-partitioned-scan"}
    assert "== Physical Plan ==" in err


def test_cli_lint_explain_table_keeps_plan_on_stdout(
    capsys, spark, write_csv_file
):
    """Human formats keep the plan inline on stdout (unchanged)."""
    p = write_csv_file("name,age\nann,31\n")
    rc, out, _ = run_cli(capsys, spark, ["lint", "--explain", p])
    assert rc == 0 and "== Physical Plan ==" in out


def test_cli_lint_partitioned_csv_forwards_comments(
    capsys, spark, tmp_path
):
    """--comments reaches the partition-discovery csv reader: the
    comment line is skipped BEFORE the header probe, so the real
    header names resolve (without the forward, the comment line IS the
    header and --select name fails)."""
    root = tmp_path / "cmt" / "day=0"
    root.mkdir(parents=True)
    (root / "part.csv").write_text("#note\nname;age\nann;31\n")
    rc, _out, _ = run_cli(
        capsys,
        spark,
        [
            "-d", ";", "--comments", "#",
            "lint", "--select", "name,day", str(tmp_path / "cmt"),
        ],
    )
    assert rc == 0


def test_cli_lint_partitioned_csv_warns_on_dropped_flags(
    capsys, spark, tmp_path
):
    """Reader flags the partition-discovery scan cannot honor
    (--preview / --skip-first-n-lines / --dynamic-typing) warn on
    stderr instead of silently diverging from the real read path."""
    root = tmp_path / "warn" / "day=0"
    root.mkdir(parents=True)
    (root / "part.csv").write_text("name,age\nann,31\n")
    rc, _out, err = run_cli(
        capsys,
        spark,
        ["--preview", "5", "lint", str(tmp_path / "warn")],
    )
    assert rc == 0
    assert "warning:" in err and "--preview" in err
    # and silent when no unsupported flag is set
    rc2, _out2, err2 = run_cli(
        capsys, spark, ["lint", str(tmp_path / "warn")]
    )
    assert rc2 == 0 and "warning:" not in err2


# --- fact/dim size-class inference (foreign schemas) --------------------
#
# The five historical trap sightings (q2/q5/q11 dim-cut, q9/q21
# fact-broadcast) re-staged on a schema the vocabulary has never heard
# of: classification must come from raw scan bytes alone. Threshold is
# pinned to 16KB so the synthetic tables land in the right bands:
# trips >= 16KB (fact-class), vendors/zones <= 4KB (dim-class),
# mystery_mid in (4KB, 16KB) (the silent middle).

THR = "16KB"


def _du(path):
    import os

    total = 0
    for dp, _dns, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, fn)) for fn in fns)
    return total


@pytest.fixture(scope="module")
def foreign(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("foreign")
    trips = str(root / "trips.parquet")
    vendors = str(root / "vendors.parquet")
    zones = str(root / "zones.parquet")
    mid = str(root / "mystery_mid.parquet")
    (
        spark.range(20000)
        .select(
            F.col("id").alias("trip_id"),
            (F.col("id") % 50).alias("trip_vendor"),
            (F.col("id") * 7 % 977).alias("fare"),
            F.sha2(F.col("id").cast("string"), 256).alias("note"),
        )
        .coalesce(1)
        .write.parquet(trips)
    )
    (
        spark.range(50)
        .select(
            F.col("id").alias("vendor_id"),
            (F.col("id") % 10).alias("zone"),
        )
        .coalesce(1)
        .write.parquet(vendors)
    )
    (
        spark.range(10)
        .select(F.col("id").alias("z_id"), F.lit("Z").alias("z_name"))
        .coalesce(1)
        .write.parquet(zones)
    )
    (
        spark.range(100)
        .select(
            F.col("id").alias("m_id"),
            F.sha2(F.col("id").cast("string"), 256).alias("m_pad"),
        )
        .coalesce(1)
        .write.parquet(mid)
    )
    # band preconditions — fail loudly if parquet encoding drifts
    assert _du(trips) >= 16 << 10, _du(trips)
    assert _du(vendors) <= 4 << 10, _du(vendors)
    assert _du(zones) <= 4 << 10, _du(zones)
    assert (4 << 10) < _du(mid) < (16 << 10), _du(mid)
    return {
        "trips": trips, "vendors": vendors, "zones": zones, "mid": mid,
    }


def _foreign_dim_cut(spark, foreign, build_extra=None):
    """The q11 shape on the foreign schema: fact probe, join-derived
    dim-cut build (priced at the bytes-PRODUCT, over the 16KB
    threshold, so the plan goes SMJ)."""
    trips = spark.read.parquet(foreign["trips"])
    build = (
        spark.read.parquet(foreign["vendors"])
        .join(
            spark.read.parquet(foreign["zones"]).filter(F.col("z_id") < 5),
            F.col("zone") == F.col("z_id"),
        )
    )
    if build_extra is not None:
        build = build.join(
            build_extra, F.col("vendor_id") == F.col("m_id"), "left"
        )
    return trips.join(
        build.select("vendor_id"),
        F.col("trip_vendor") == F.col("vendor_id"),
        "left_semi",
    )


def _codes(df, **kw):
    return [
        f.code
        for f in lint_plan(df, **kw)
        if f.code in ("fact-broadcast", "dim-cut-not-broadcast")
    ]


def test_foreign_dim_cut_fires_without_vocabulary(spark, foreign):
    """The q2/q5/q11 sighting on a never-seen schema: with NO
    fact_tables/dim_tables, the dim-cut rule classifies the build's
    scans dim-class (bytes <= thr/4) and the probe fact-class (bytes
    >= thr) and fires — and the message names the inferred tables."""
    with _threshold(spark, THR):
        j = _foreign_dim_cut(spark, foreign)
        plan_codes = _codes(j)
        assert plan_codes == ["dim-cut-not-broadcast"]
        msg = [
            f.message
            for f in lint_plan(j)
            if f.code == "dim-cut-not-broadcast"
        ][0]
        assert "vendors.parquet" in msg and "zones.parquet" in msg


def test_foreign_dim_cut_guarded_broadcast_silent(spark, foreign):
    """The landed guard works identically on the foreign schema."""
    with _threshold(spark, THR):
        trips = spark.read.parquet(foreign["trips"])
        build = (
            spark.read.parquet(foreign["vendors"])
            .join(
                F.broadcast(
                    spark.read.parquet(foreign["zones"]).filter(
                        F.col("z_id") < 5
                    )
                ),
                F.col("zone") == F.col("z_id"),
            )
            .select("vendor_id")
        )
        j = trips.join(
            F.broadcast(build),
            F.col("trip_vendor") == F.col("vendor_id"),
            "left_semi",
        )
        assert _codes(j) == []


def test_foreign_middle_band_stays_silent(spark, foreign):
    """A build containing a scan in the ambiguous middle band
    (thr/4 < bytes < thr) keeps the side un-classifiable — silent,
    exactly the r17 unknown-guard posture."""
    with _threshold(spark, THR):
        mid = spark.read.parquet(foreign["mid"])
        j = _foreign_dim_cut(spark, foreign, build_extra=mid)
        assert _codes(j) == []


def test_foreign_explicit_names_override_inference(spark, foreign):
    """fact_tables= naming a build-side table beats its dim-class
    bytes: the side now holds a declared fact, so no broadcast advice
    — the pin for 'small today but grows with the data'."""
    with _threshold(spark, THR):
        j = _foreign_dim_cut(spark, foreign)
        assert _codes(j, fact_tables=frozenset({"vendors"})) == []


def test_foreign_fact_broadcast_fires_without_vocabulary(spark, foreign):
    """The q9/q21 sighting on the foreign schema: an explicit
    broadcast of a non-aggregated fact-class scan (bytes >= thr)
    fires with no vocabulary at all."""
    with _threshold(spark, THR):
        trips = spark.read.parquet(foreign["trips"]).select(
            "trip_id", "trip_vendor"
        )
        vendors = spark.read.parquet(foreign["vendors"])
        j = vendors.join(
            F.broadcast(trips), F.col("vendor_id") == F.col("trip_vendor")
        )
        assert _codes(j) == ["fact-broadcast"]


# --- r18 storage-layout gates -------------------------------------------


def _plan(df) -> str:
    from bun_csv_spark.plans.lint import plan_text

    return plan_text(df)


def test_pruned_gate_prunes_and_lints_silent(spark):
    """partitioned_pruned_read closes the unpruned-partitioned-scan
    rule's negative loop (VERDICT r17 #7): the gate's plan carries the
    literal day range in PartitionFilters, and the rule stays SILENT —
    while a full read of the SAME layout (positive twin) fires."""
    import re

    import __spark_entry__ as e

    df = e.queries()["partitioned_pruned_read"](spark, SF)
    p = _plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "d20240105" in m.group(1)
    assert "unpruned-partitioned-scan" not in {
        f.code for f in lint_plan(df)
    }
    # positive twin: the staged layout read WITHOUT the filter
    layout = re.search(r"Location: \w+ \[([^\],]*)", p).group(1)
    layout = layout.removeprefix("file:")
    full = spark.read.parquet(layout).groupBy("event_type").count()
    assert "unpruned-partitioned-scan" in {
        f.code for f in lint_plan(full)
    }


def test_bucketed_gate_exchange_and_sort_free_join(spark):
    """bucketed_join_agg's plan: SMJ over co-partitioned pre-sorted
    buckets — zero Exchange and zero Sort below the join (the single
    Exchange is the final aggregate's); the layout paid for both."""
    import re

    import __spark_entry__ as e

    df = e.queries()["bucketed_join_agg"](spark, SF)
    p = _plan(df)
    assert "SortMergeJoin" in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    assert not re.search(r"\(\d+\) Sort\b", p)
    assert "BroadcastExchange" not in p


def test_bucketed_gate_matches_plain_join(spark):
    """Bucketing is a pure physical re-layout: the gate's result equals
    the same join+aggregate over the raw parquet."""
    import __spark_entry__ as e

    got = {
        r.cust_bucket: (r.n_lines, r.sum_price, r.sum_qty)
        for r in e.queries()["bucketed_join_agg"](spark, SF).collect()
    }
    o = _t(spark, "orders").filter(F.col("o_orderkey") % 97 == 0)
    li = _t(spark, "lineitem").filter(F.col("l_orderkey") % 97 == 0)
    plain = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy((F.col("o_custkey") % 10).alias("cust_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )
    want = {
        r.cust_bucket: (r.n_lines, r.sum_price, r.sum_qty)
        for r in plain.collect()
    }
    assert got == want


def test_csv_opts_skipempty_gate_fixture_and_result(spark):
    """The skipempty gate's fixture really plants both line kinds
    (truly-empty after key%4==0, whitespace-only after key%6==0), and
    the greedy read returns exactly the 25 clean nation records with
    fields aligned."""
    import __spark_entry__ as e
    from gates.csv_io import _nation_csv_fixture

    path = _nation_csv_fixture(spark, SF, empties=True)
    raw = open(path).read().splitlines()
    assert raw.count("") == 7  # keys 0,4,8,12,16,20,24
    assert raw.count("  \t ") == 5  # keys 0,6,12,18,24
    df = e.queries()["csv_opts_skipempty"](spark, SF)
    rows = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in df.collect()}
    nation = {
        str(r.n_nationkey): (r.n_name, str(r.n_regionkey))
        for r in _t(spark, "nation").collect()
    }
    assert rows == nation


# --- the --suggest tier -------------------------------------------------

ALL_LINT_CODES = {
    "cartesian-product", "nested-loop-join", "global-window",
    "global-sort", "python-udf", "arrow-python", "unpushed-filter",
    "fact-broadcast", "dim-cut-not-broadcast",
    "unpruned-partitioned-scan", "broadcast-fanout-budget", "wide-scan",
}


def test_every_lint_code_has_a_measured_suggestion():
    """Each finding code carries a fix recipe with a SCALE.md pointer
    — the --suggest contract (VERDICT r17 #4). The code list here is
    the complete emitted set; a new rule must land with its recipe."""
    from bun_csv_spark.plans.lint import SUGGESTIONS

    assert set(SUGGESTIONS) == ALL_LINT_CODES
    for code, text in SUGGESTIONS.items():
        assert "SCALE.md" in text, code
        assert len(text) > 40, code


def test_finding_suggestion_property(spark, foreign):
    with _threshold(spark, THR):
        j = _foreign_dim_cut(spark, foreign)
        f = [
            f
            for f in lint_plan(j)
            if f.code == "dim-cut-not-broadcast"
        ][0]
        assert "F.broadcast" in f.suggestion and "5.8x" in f.suggestion


def test_cli_lint_suggest_flag(capsys, spark, foreign):
    """--suggest attaches the recipe column; without it the row shape
    is byte-stable with r17 (CI output contract)."""
    with _threshold(spark, THR):
        import json as _json

        pipe_src = (
            "from pyspark.sql import functions as F\n"
            "def build(spark):\n"
            f"    t = spark.read.parquet({foreign['trips']!r})\n"
            f"    v = spark.read.parquet({foreign['vendors']!r})\n"
            f"    z = spark.read.parquet({foreign['zones']!r})\n"
            "    b = v.join(z.filter(F.col('z_id') < 5),"
            " F.col('zone') == F.col('z_id')).select('vendor_id')\n"
            "    return t.join(b, F.col('trip_vendor') =="
            " F.col('vendor_id'), 'left_semi')\n"
        )
        import pathlib
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            pipe = pathlib.Path(td) / "pipe.py"
            pipe.write_text(pipe_src)
            rc, out, _ = run_cli(
                capsys,
                spark,
                ["-f", "json", "lint", "--suggest", str(pipe)],
            )
            rows = _json.loads(out)
            assert rc == 1
            assert all("SCALE.md" in r["suggestion"] for r in rows)
            rc2, out2, _ = run_cli(
                capsys, spark, ["-f", "json", "lint", str(pipe)]
            )
            rows2 = _json.loads(out2)
            assert rc2 == 1
            assert all("suggestion" not in r for r in rows2)


def test_cli_lint_partitioned_tsv_auto_delimiter(capsys, spark, tmp_path):
    """A hive-partitioned .tsv layout with auto delimiter: the sampler
    must read the .tsv leaf (it previously only sampled *.csv, so tab
    layouts silently got comma) — --select then resolves the real
    tab-separated header names."""
    root = tmp_path / "tabs" / "day=0"
    root.mkdir(parents=True)
    (root / "part.tsv").write_text("name\tage\nann\t31\nbob\t17\n")
    rc, _out, _ = run_cli(
        capsys,
        spark,
        ["lint", "--select", "age,day", str(tmp_path / "tabs")],
    )
    assert rc == 0


def test_stray_txt_does_not_shadow_csv_sample(tmp_path):
    """Delimiter auto-detection prefers .csv/.tsv leaves over .txt: a
    stray prose notes.txt at the layout root walks first and would be
    the sample (falling back to comma and breaking a semicolon layout
    below it) — the sampler must pick the part.csv instead. Unit-level
    on the sampler: Spark itself cannot read a layout with data-less
    root files (they'd be parsed as data), so the preference is about
    WHICH file informs the delimiter, pinned here directly. A
    .txt-only layout still samples the .txt (the r17 ADVICE fix)."""
    from bun_csv_spark.cli.main import _resolve_delimiter

    base = tmp_path / "shadow"
    (base / "day=0").mkdir(parents=True)
    (base / "notes.txt").write_text(
        "these are prose notes about the dataset\nno delimiters here\n"
    )
    (base / "day=0" / "part.csv").write_text("name;age\nann;31\n")
    assert _resolve_delimiter(str(base), None) == ";"
    only_txt = tmp_path / "txts" / "day=0"
    only_txt.mkdir(parents=True)
    (only_txt / "part.txt").write_text("a\tb\nx\t1\ny\t2\n")
    assert _resolve_delimiter(str(tmp_path / "txts"), None) == "\t"


def test_cli_lint_clean_json_stdout_is_empty_array(
    capsys, spark, write_csv_file
):
    """The CLEAN path under -f json emits [] — stdout stays parseable
    for the CI pipe in the most common case."""
    p = write_csv_file("name,age\nann,31\n")
    rc, out, _ = run_cli(capsys, spark, ["-f", "json", "lint", p])
    assert rc == 0 and json.loads(out) == []


def test_cli_lint_multichar_comments_warns_not_truncates(
    capsys, spark, tmp_path
):
    """A multi-char --comments prefix cannot map onto Spark csv's
    single-char `comment` — the partitioned branch warns and drops it
    rather than silently linting a plan that eats every line starting
    with the first character."""
    root = tmp_path / "mc" / "day=0"
    root.mkdir(parents=True)
    (root / "part.csv").write_text("name,age\n/path/x,31\n")
    rc, _out, err = run_cli(
        capsys,
        spark,
        ["--comments", "//", "lint", str(tmp_path / "mc")],
    )
    assert rc == 0
    assert "warning:" in err and "--comments (multi-char prefix)" in err


# ---------------------------------------------------------------------------
# r18 optimization round: laws for the two operator-internal changes
# ---------------------------------------------------------------------------


def test_stream_state_partitions_sizing_rule(spark, tmp_path, monkeypatch):
    """State-partition derivation: floor 8 on small bounded replays,
    capped at defaultParallelism for big sources (cluster behavior
    unchanged), explicit override wins, unstatable source -> None
    (leave the session conf alone)."""
    from bun_csv_spark.streaming.windows import _stream_state_partitions

    small = tmp_path / "small.parquet"
    small.write_bytes(b"x" * 1024)
    assert _stream_state_partitions(spark, str(small)) == 8

    # a huge source caps at defaultParallelism: fake the size probe
    # (r19: monkeypatched getsize, not a real 64 GiB sparse file — a
    # filesystem without holes would actually allocate the bytes)
    import os

    big = tmp_path / "big.parquet"
    big.write_bytes(b"x")
    real_getsize = os.path.getsize
    monkeypatch.setattr(
        os.path,
        "getsize",
        lambda p: 64 * 1024**3 if str(p) == str(big) else real_getsize(p),
    )
    par = spark.sparkContext.defaultParallelism
    assert _stream_state_partitions(spark, str(big)) == max(par, 8)

    assert _stream_state_partitions(spark, str(small), override=3) == 3
    assert _stream_state_partitions(spark, str(tmp_path / "missing")) is None


def test_pinned_shuffle_partitions_restores_on_error(spark):
    """The drain pin is scoped: the caller's shuffle-partition conf
    survives both the happy path and an exception inside the drain.
    Every drain holds ``_PIN_LOCK``, so an unpinned drain waits while
    another thread holds the pins."""
    from bun_csv_spark.streaming.windows import _PIN_LOCK, _pinned_drain

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _pinned_drain(spark, 5):
        assert spark.conf.get(key) == "5"
    assert spark.conf.get(key) == before
    with pytest.raises(RuntimeError):
        with _pinned_drain(spark, 7):
            assert spark.conf.get(key) == "7"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before

    held, release, entered = (threading.Event() for _ in range(3))

    def hold_pins():
        with _PIN_LOCK:
            held.set()
            release.wait(30)

    def unpinned_drain():
        with _pinned_drain(spark, None):
            entered.set()

    holder = threading.Thread(target=hold_pins)
    holder.start()
    assert held.wait(30)
    drain = threading.Thread(target=unpinned_drain)
    drain.start()
    try:
        assert not entered.wait(0.5)
    finally:
        release.set()
    assert entered.wait(30)
    holder.join()
    drain.join()


def test_connected_components_deep_chain(spark):
    """A 12-node path graph forces many propagation rounds (diameter
    11) — the law that pins the r18 fused convergence check: the loop
    must keep iterating until the true fixpoint, and every node lands
    on the component minimum."""
    from bun_csv_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "id_a long, id_b long"
    )
    out = {r.node: r.label for r in connected_components(pairs).collect()}
    assert out == {i: 100 for i in range(100, 112)}


def test_nation_csv_fixture_is_removed_at_exit(tmp_path):
    """Every temp writer goes under the process's scratch root, which goes
    when the process exits. A child whose TMPDIR is empty, started in an
    empty working directory, builds and collects every staging gate (the
    streaming replays, the incremental stores, the partitioned, bucketed
    and round-trip writes, the CSV option fixture), appends to a CSV file
    and reads a latin-1 one. After it exits, its TMPDIR and its working
    directory are as empty as they began: no scratch, no spark-warehouse/."""
    import inspect
    import os
    import re
    import subprocess
    import sys

    from gates import GATES

    stages = re.compile(
        r"\b(_scratch_dir|run_stream_to_table|_nation_csv_fixture"
        r"|write_bucketed|neardup_pairs_minhash_bucketed)\("
    )
    names = [g.name for g in GATES if stages.search(inspect.getsource(g.build))]
    assert {
        "streaming_join", "streaming_watermark", "streaming_kmv",
        "incremental_dedup", "incremental_neardup", "incremental_neardup_narrow",
        "partitioned_pruned_read", "bucketed_join_agg", "csv_roundtrip",
        "jsonl_roundtrip", "csv_opts_comments", "neardup_pairs_bucketed",
    } <= set(names), names

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp, cwd, data = (tmp_path / d for d in ("tmp", "cwd", "data"))
    for d in (tmp, cwd, data):
        d.mkdir()
    target = data / "target.csv"
    target.write_text("a,b\n")
    latin = data / "latin.csv"
    latin.write_bytes("h\u00e9,x\n\u00e9,2\n".encode("latin-1"))
    code = (
        "import __spark_entry__ as e\n"
        "from bun_csv_spark.session import get_spark\n"
        "from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv\n"
        "from bun_csv_spark.sources.csv_writer import append_csv_file\n"
        "spark = get_spark('scratch_leak', cpus=2, shuffle_partitions=2)\n"
        "qs = e.queries()\n"
        f"for name in {names!r}:\n"
        f"    qs[name](spark, {SF!r}).collect()\n"
        "append_csv_file(spark.createDataFrame([(1, 'x')], 'a int, b string'),"
        f" {str(target)!r})\n"
        f"rows = read_csv(spark, {str(latin)!r}, CSVOptions(encoding='latin-1'))"
        ".collect()\n"
        "assert [tuple(r) for r in rows] == [('\\u00e9', '2')], rows\n"
    )
    subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, check=True, timeout=900,
        env=dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=repo),
    )
    assert target.read_text() == "a,b\n1,x\n"
    assert not list(tmp.iterdir())
    assert not list(cwd.iterdir())
