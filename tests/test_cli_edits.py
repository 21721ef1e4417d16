"""CLI commands + copy-on-write edit overlay."""

import pytest

from bun_csv_spark.cli.config import merge_config
from bun_csv_spark.cli.main import main
from bun_csv_spark.operators.edits import EditLog
from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv


@pytest.fixture()
def people_csv(write_csv_file):
    return write_csv_file(
        "name,age,city\nAlice,30,NYC\nBob,25,LA\nCarol,35,SF\nDave,28,NYC\n"
    )


def run_cli(capsys, spark, argv):
    rc = main(argv, spark=spark)
    out = capsys.readouterr()
    return rc, out.out, out.err


def test_cli_count(capsys, spark, people_csv):
    rc, out, err = run_cli(capsys, spark, ["count", people_csv])
    assert rc == 0 and out.strip() == "4"
    assert "4 rows" in err


def test_cli_head(capsys, spark, people_csv):
    rc, out, _ = run_cli(capsys, spark, ["-f", "csv", "head", "-n", "2", people_csv])
    assert rc == 0
    assert out.splitlines()[0] == "name,age,city"
    assert len(out.strip().splitlines()) == 3


def test_cli_tail(capsys, spark, people_csv):
    rc, out, _ = run_cli(capsys, spark, ["-f", "csv", "tail", "-n", "1", people_csv])
    assert rc == 0 and "Dave" in out and "Alice" not in out


def test_cli_select_by_name_and_index(capsys, spark, people_csv):
    rc, out, _ = run_cli(capsys, spark, ["-f", "csv", "select", "name,2", people_csv])
    assert rc == 0
    assert out.splitlines()[0] == "name,city"


def test_cli_filter(capsys, spark, people_csv):
    rc, out, _ = run_cli(
        capsys, spark, ["-f", "csv", "filter", "age > 26 && city == NYC", people_csv]
    )
    assert rc == 0
    body = out.strip().splitlines()[1:]
    assert sorted(l.split(",")[0] for l in body) == ["Alice", "Dave"]


def test_cli_filter_bad_expression(capsys, spark, people_csv):
    rc, _, err = run_cli(capsys, spark, ["filter", "age >", people_csv])
    assert rc == 2 and "error:" in err


def test_cli_sort(capsys, spark, people_csv):
    rc, out, _ = run_cli(capsys, spark, ["-f", "csv", "sort", "age", "--desc", people_csv])
    names = [l.split(",")[0] for l in out.strip().splitlines()[1:]]
    assert names == ["Carol", "Alice", "Dave", "Bob"]


def test_cli_convert_jsonl(capsys, spark, people_csv):
    rc, out, _ = run_cli(capsys, spark, ["convert", "--to", "jsonl", people_csv])
    import json

    rows = [json.loads(l) for l in out.strip().splitlines()]
    assert {r["name"] for r in rows} == {"Alice", "Bob", "Carol", "Dave"}


def test_cli_validate_ok_and_bad(capsys, spark, write_csv_file):
    good = write_csv_file("a,b\n1,2\n")
    rc, out, _ = run_cli(capsys, spark, ["validate", good])
    assert rc == 0 and "OK" in out
    bad = write_csv_file("a,b\n1,2,3\n", name="bad.csv")
    rc, out, _ = run_cli(capsys, spark, ["validate", bad])
    assert rc == 1 and "TooManyFields" in out


def test_cli_stats(capsys, spark, people_csv):
    rc, out, _ = run_cli(capsys, spark, ["-f", "json", "stats", people_csv])
    import json

    rows = json.loads(out)
    byc = {r["column"]: r for r in rows}
    assert byc["age"]["inferred_type"] == "number"
    assert byc["city"]["unique_count"] == 3


def test_cli_benchmark(capsys, spark, people_csv):
    rc, out, _ = run_cli(capsys, spark, ["benchmark", "--runs", "1", people_csv])
    assert rc == 0 and "MB/s" in out and "runs=1" in out


def test_cli_config_precedence(tmp_path, monkeypatch):
    (tmp_path / ".bcsvrc").write_text('{"format": "json", "delimiter": ";"}')
    monkeypatch.chdir(tmp_path)
    cfg = merge_config({})
    assert cfg["format"] == "json" and cfg["delimiter"] == ";"
    monkeypatch.setenv("BCSV_FORMAT", "csv")
    assert merge_config({})["format"] == "csv"  # env beats file
    assert merge_config({"format": "table"})["format"] == "table"  # CLI beats env


def test_cli_stdin_temp_file_is_removed_at_exit(tmp_path):
    """``-`` reads stdin into a file under the scratch root: the file holds
    the stdin bytes, and it is gone once the process exits."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from bun_csv_spark.cli.main import _resolve_input\n"
        "p = _resolve_input('-')\n"
        "print(p, open(p, 'rb').read().hex())\n"
    )
    data = "h\u00e9,x\n1,2\n".encode()
    out = subprocess.run(
        [sys.executable, "-c", code], input=data, capture_output=True,
        check=True, timeout=120,
        env=dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=repo,
                 LC_ALL="C.UTF-8"),
    )
    path, written = out.stdout.decode().split()
    assert path.startswith(str(tmp_path))
    assert bytes.fromhex(written) == data
    assert not list(tmp_path.iterdir())


# -- edit overlay -------------------------------------------------------------


@pytest.fixture()
def indexed_df(spark, people_csv):
    return read_csv(spark, people_csv, CSVOptions(with_row_index=True))


def rows_of(df):
    return [
        (r["name"], r["age"], r["city"])
        for r in df.orderBy("__row_idx").collect()
    ]


def test_edit_set_cell(indexed_df):
    log = EditLog()
    log.set_cell(1, "age", "99")
    out = rows_of(log.apply(indexed_df))
    assert out[1] == ("Bob", "99", "LA")
    assert out[0] == ("Alice", "30", "NYC")


def test_edit_delete_row(indexed_df):
    log = EditLog()
    log.delete_row(0)
    log.delete_row(2)
    out = rows_of(log.apply(indexed_df))
    assert [r[0] for r in out] == ["Bob", "Dave"]


def test_edit_insert_rows(indexed_df):
    log = EditLog()
    log.insert_row(0, ["Zed", "1", "XX"])       # before first data row
    log.insert_row(3, ["Mid", "2", "YY"])       # output position 3
    out = rows_of(log.apply(indexed_df))
    assert [r[0] for r in out] == ["Zed", "Alice", "Bob", "Mid", "Carol", "Dave"]


def test_edit_insert_at_end(indexed_df):
    log = EditLog()
    log.insert_row(4, ["End", "9", "ZZ"])
    out = rows_of(log.apply(indexed_df))
    assert [r[0] for r in out] == ["Alice", "Bob", "Carol", "Dave", "End"]


def test_edit_combined_replay(indexed_df):
    # mirror of the reference replay loop: inserts consume OUTPUT positions
    # interleaved with deletes (parser.ts:816-850)
    log = EditLog()
    log.delete_row(1)               # Bob out
    log.set_cell(2, "city", "LA")   # Carol -> LA
    log.insert_row(1, ["New", "5", "QQ"])  # output pos 1: after Alice
    out = rows_of(log.apply(indexed_df))
    assert [r[0] for r in out] == ["Alice", "New", "Carol", "Dave"]
    assert out[2] == ("Carol", "35", "LA")


def test_edit_get_cell(indexed_df):
    log = EditLog()
    log.set_cell(0, "age", "41")
    log.delete_row(1)
    assert log.get_cell(indexed_df, 0, "age") == "41"
    assert log.get_cell(indexed_df, 1, "age") is None  # deleted
    assert log.get_cell(indexed_df, 2, "age") == "35"


def test_get_cell_memo_not_inherited_after_gc(spark):
    """The contiguity memo is weak-keyed on the frame: when a frame is
    collected its memo entry dies with it, so a new frame (whose id() may
    be reused by the allocator) can never inherit a stale contiguity base
    (round-2 ADVICE regression)."""
    import gc

    from pyspark.sql import functions as F

    log = EditLog()
    df = (
        spark.range(5)
        .withColumnRenamed("id", "__row_idx")
        .withColumn("v", F.col("__row_idx") * 10)
    )
    assert log.get_cell(df, 3, "v") == 30
    assert len(log._contig_base) == 1
    del df
    gc.collect()
    assert len(log._contig_base) == 0
    # a fresh frame with a DIFFERENT base computes its own memo entry
    df2 = (
        spark.range(2, 7)
        .withColumnRenamed("id", "__row_idx")
        .withColumn("v", F.col("__row_idx") * 10)
    )
    assert log.get_cell(df2, 0, "v") == 20  # row 0 -> index 2, not 0


def test_edit_discard(indexed_df):
    log = EditLog()
    log.set_cell(0, "age", "41")
    log.clear()
    out = rows_of(log.apply(indexed_df))
    assert out[0] == ("Alice", "30", "NYC")
