"""CSV reader option-surface tests — the reference's per-option unit files
re-expressed (reference: test/unit/*.test.ts; SURVEY §5.1-5.2)."""

import pytest

from bun_csv_spark.sources.csv_reader import (
    CSVOptions,
    CSVReadError,
    dedupe_headers,
    detect_delimiter,
    read_csv,
    read_csv_with_errors,
)


def rows_as_dicts(df):
    return [r.asDict() for r in df.collect()]


# -- null semantics (reference row.ts:300-321; SURVEY §1.3) -------------------


def test_unquoted_empty_is_null_quoted_empty_is_string(spark, write_csv_file):
    path = write_csv_file('a,b,c\n1,,x\n2,"",y\n')
    out = rows_as_dicts(read_csv(spark, path).orderBy("a"))
    assert out[0]["b"] is None  # unquoted empty -> SQL NULL
    assert out[1]["b"] == ""  # quoted empty -> empty string


def test_null_semantics_exact_path(spark, write_csv_file):
    path = write_csv_file('a,b,c\n1,,x\n2,"",y\n')
    df, errors = read_csv_with_errors(
        spark, path, CSVOptions(with_row_index=True)
    )
    out = rows_as_dicts(df.orderBy("a"))
    assert out[0]["b"] is None
    assert out[1]["b"] == ""
    assert errors.count() == 0


def test_quote_unescape(spark, write_csv_file):
    path = write_csv_file('a,b\n1,"say ""hi"", ok"\n')
    out = rows_as_dicts(read_csv(spark, path))
    assert out[0]["b"] == 'say "hi", ok'
    out2 = rows_as_dicts(read_csv(spark, path, CSVOptions(with_row_index=True)))
    assert out2[0]["b"] == 'say "hi", ok'


# -- headers ------------------------------------------------------------------


def test_duplicate_header_rename():
    assert dedupe_headers(["a", "b", "a", "a"]) == ["a", "b", "a_1", "a_2"]


def test_duplicate_header_error():
    with pytest.raises(CSVReadError):
        dedupe_headers(["a", "a"], mode="error")


def test_transform_header(spark, write_csv_file):
    path = write_csv_file("First Name,Last Name\nada,lovelace\n")
    opts = CSVOptions(transform_header=lambda h, i: h.lower().replace(" ", "_"))
    df = read_csv(spark, path, opts)
    assert df.columns == ["first_name", "last_name"]


def test_no_header_positional_names(spark, write_csv_file):
    path = write_csv_file("1,2,3\n4,5,6\n")
    df = read_csv(spark, path, CSVOptions(has_header=False))
    assert df.columns == ["col0", "col1", "col2"]
    assert df.count() == 2


# -- row-level options --------------------------------------------------------


def test_comments_skip(spark, write_csv_file):
    path = write_csv_file("a,b\n# note\n1,2\n#x\n3,4\n")
    df = read_csv(spark, path, CSVOptions(comments="#"))
    assert sorted(r.a for r in df.collect()) == ["1", "3"]


def test_preview_limit(spark, write_csv_file):
    path = write_csv_file("a\n" + "\n".join(str(i) for i in range(100)) + "\n")
    assert read_csv(spark, path, CSVOptions(preview=7)).count() == 7


def test_skip_first_n_lines(spark, write_csv_file):
    path = write_csv_file("junk line\nmore junk\na,b\n1,2\n")
    df = read_csv(spark, path, CSVOptions(skip_first_n_lines=2))
    assert df.columns[:2] == ["a", "b"]
    assert rows_as_dicts(df)[0]["a"] == "1"


def test_from_to_line(spark, write_csv_file):
    # fromLine/toLine are 1-based FILE lines with the header as line 1
    # (parser.ts:1504-1513) — fromLine=3 starts at the 2nd DATA record.
    # Values are distinct from record numbers so an off-by-one can't hide.
    path = write_csv_file("a\n" + "\n".join(f"v{i}" for i in range(1, 11)) + "\n")
    df = read_csv(spark, path, CSVOptions(from_line=3, to_line=5))
    assert sorted(r.a for r in df.collect()) == ["v2", "v3", "v4"]


def test_from_to_line_no_header(spark, write_csv_file):
    # without a header, file line N is data record N
    path = write_csv_file("\n".join(f"v{i}" for i in range(1, 11)) + "\n")
    df = read_csv(
        spark, path, CSVOptions(has_header=False, from_line=3, to_line=5)
    )
    assert sorted(r.col0 for r in df.collect()) == ["v3", "v4", "v5"]


def test_preview_composes_with_from_line(spark, write_csv_file):
    path = write_csv_file("a\n" + "\n".join(f"v{i}" for i in range(1, 11)) + "\n")
    df = read_csv(spark, path, CSVOptions(from_line=3, preview=2))
    assert sorted(r.a for r in df.collect()) == ["v2", "v3"]


def test_before_first_chunk_file_source(spark, write_csv_file):
    # beforeFirstChunk applies to file-path inputs too (parser.ts:203-209,
    # 350-361; reference phase4-features.test.ts): the raw text is
    # rewritten before parsing begins, on both physical paths.
    path = write_csv_file("GARBAGE PROLOGUE\na,b\n1,2\n3,4\n")
    opts = CSVOptions(
        before_first_chunk=lambda text: text.split("\n", 1)[1]
    )
    df = read_csv(spark, path, opts)
    assert df.columns == ["a", "b"]
    assert sorted(r.a for r in df.collect()) == ["1", "3"]
    # exact path (row index forces it) sees the rewritten text as well
    df2 = read_csv(
        spark,
        path,
        CSVOptions(
            before_first_chunk=lambda text: text.split("\n", 1)[1],
            with_row_index=True,
        ),
    )
    assert sorted(r.b for r in df2.collect()) == ["2", "4"]


def test_before_first_chunk_non_utf8(spark, tmp_path):
    """beforeFirstChunk on a cp1252 source: the hook sees DECODED text and
    the rewritten temp file re-reads as UTF-8 (round-2 ADVICE regression —
    the original code re-decoded the rewritten UTF-8 file with the source
    codec, producing mojibake)."""
    p = tmp_path / "bfc1252.csv"
    p.write_bytes("junk\nname,phrase\nno1,café “ok”\n".encode("cp1252"))
    opts = CSVOptions(before_first_chunk=lambda t: t.split("\n", 1)[1])
    rows = read_csv(spark, str(p), opts).collect()
    assert rows[0].phrase == "café “ok”"


def test_skip_empty_rows_greedy(spark, write_csv_file):
    path = write_csv_file("a,b\n1,2\n   \n\n3,4\n")
    df = read_csv(spark, path, CSVOptions(skip_empty_rows="greedy", with_row_index=True))
    assert sorted(r.a for r in df.collect()) == ["1", "3"]


def test_skip_empty_rows_greedy_tab_only_line(spark, write_csv_file):
    # a tab-only line is blank to JS trim; the driver header probe and the
    # distributed filter must agree on it. Pre-header whitespace-only lines
    # are exact-path-only (Spark's native reader picks its own header line)
    path = write_csv_file("\t\na,b\n1,2\n\t\t\n3,4\n")
    df = read_csv(spark, path, CSVOptions(skip_empty_rows="greedy", with_row_index=True))
    assert ["a", "b"] == [c for c in df.columns if c in ("a", "b")]
    assert sorted(r.a for r in df.collect()) == ["1", "3"]
    # native path: tab-only DATA line drops under greedy
    path2 = write_csv_file("a,b\n1,2\n\t\t\n3,4\n")
    df_native = read_csv(spark, path2, CSVOptions(skip_empty_rows="greedy"))
    assert df_native.columns == ["a", "b"]
    assert sorted(r.a for r in df_native.collect()) == ["1", "3"]


def test_trim(spark, write_csv_file):
    path = write_csv_file("a,b\n  x  , y\n")
    out = rows_as_dicts(read_csv(spark, path, CSVOptions(trim=True)))
    assert out[0]["a"] == "x" and out[0]["b"] == "y"
    out_l = rows_as_dicts(read_csv(spark, path, CSVOptions(trim="left")))
    assert out_l[0]["a"] == "x  "


def test_skip_records_with_empty_values(spark, write_csv_file):
    path = write_csv_file("a,b\n1,2\n,\n3,\n")
    df = read_csv(spark, path, CSVOptions(skip_records_with_empty_values=False))
    assert df.count() == 3
    df2 = read_csv(spark, path, CSVOptions(skip_records_with_empty_values=True))
    assert df2.count() == 2  # the all-empty row drops; partial stays


# -- field-count errors / extra fields (errors.ts:6-53, row.ts:508-523) -------


def test_too_few_and_too_many_fields(spark, write_csv_file):
    path = write_csv_file("a,b,c\n1,2,3\n4,5\n6,7,8,9,10\n")
    df, errors = read_csv_with_errors(spark, path, CSVOptions(with_row_index=True))
    errs = {r.code for r in errors.collect()}
    assert errs == {"TooFewFields", "TooManyFields"}
    out = {r.a: r.asDict() for r in df.collect()}
    assert out["4"]["c"] is None  # short row padded with null
    assert out["6"]["__parsed_extra"] == ["9", "10"]  # overflow collected


def test_relax_column_count(spark, write_csv_file):
    path = write_csv_file("a,b,c\n1,2,3\n4,5\n6,7,8,9\n")
    _, errors = read_csv_with_errors(
        spark, path, CSVOptions(relax_column_count=True, with_row_index=True)
    )
    assert errors.count() == 0
    _, errors_less = read_csv_with_errors(
        spark, path, CSVOptions(relax_column_count_less=True, with_row_index=True)
    )
    assert {r.code for r in errors_less.collect()} == {"TooManyFields"}


def test_skip_records_with_error(spark, write_csv_file):
    path = write_csv_file("a,b,c\n1,2,3\n4,5\n6,7,8,9\n")
    df, _ = read_csv_with_errors(
        spark, path, CSVOptions(skip_records_with_error=True, with_row_index=True)
    )
    assert [r.a for r in df.collect()] == ["1"]


def test_max_record_size(spark, write_csv_file):
    path = write_csv_file("a,b\n1,2\n3," + "x" * 100 + "\n")
    df, errors = read_csv_with_errors(
        spark, path, CSVOptions(max_record_size=50, with_row_index=True)
    )
    assert [r.code for r in errors.collect()] == ["MaxRecordSize"]
    assert [r.a for r in df.collect()] == ["1"]  # oversized row never yields


# -- row index ----------------------------------------------------------------


def test_row_index_is_file_order(spark, write_csv_file):
    path = write_csv_file("a\n" + "\n".join(f"v{i}" for i in range(20)) + "\n")
    df = read_csv(spark, path, CSVOptions(with_row_index=True))
    got = [(r["__row_idx"], r.a) for r in df.orderBy("__row_idx").collect()]
    assert got == [(i + 1, f"v{i}") for i in range(20)]  # header is line 0


# -- delimiter detection (detect.zig:32-144) ----------------------------------


def test_detect_delimiter():
    assert detect_delimiter("a,b,c\n1,2,3\n4,5,6")[0] == ","
    assert detect_delimiter("a\tb\tc\n1\t2\t3")[0] == "\t"
    assert detect_delimiter("a|b|c\n1|2|3\n4|5|6")[0] == "|"
    assert detect_delimiter("a;b\n1;2")[0] == ";"
    # quoted delimiters don't fool the scorer
    assert detect_delimiter('a,b\n"1;2",3\n"4;5",6')[0] == ","


def test_multi_char_delimiter_matches_spark(spark, write_csv_file):
    text = 'a||b||c\n1||"x||y"||3\n4||||6\n7||8\n'
    path = write_csv_file(text, name="double_pipe.csv")
    want_rows = [
        tuple(r)
        for r in spark.read.option("sep", "||").option("header", "true").csv(path).collect()
    ]
    native = read_csv(spark, path, CSVOptions(delimiter="||"))
    exact = read_csv(spark, path, CSVOptions(delimiter="||", relax_column_count=True))
    assert native.columns == ["a", "b", "c"]
    assert exact.columns == ["a", "b", "c", "__parsed_extra"]
    assert [tuple(r) for r in native.collect()] == want_rows
    assert [tuple(r)[:3] for r in exact.collect()] == want_rows


def test_utf8_temp_file_is_removed_at_exit(tmp_path):
    # Spark reads the path after the call returns, so the file must live
    # until the interpreter exits, and go then
    import os
    import subprocess
    import sys

    code = (
        "from bun_csv_spark.sources.csv_reader import _utf8_temp_file\n"
        "p = _utf8_temp_file('h\\u00e9,x\\n1,2\\n', 'bcsv_test_')\n"
        "assert open(p, encoding='utf-8').read() == 'h\\u00e9,x\\n1,2\\n'\n"
        "print(p)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": root}
    out = subprocess.run([sys.executable, "-c", code], env=env, check=True,
                         capture_output=True, text=True)
    path = out.stdout.strip()
    assert path.startswith(str(tmp_path))
    assert not os.path.exists(path)


def test_auto_delimiter_read(spark, write_csv_file):
    path = write_csv_file("a|b\n1|2\n3|4\n", name="pipes.csv")
    df = read_csv(spark, path, CSVOptions(delimiter="auto"))
    assert df.columns == ["a", "b"]
    assert sorted(r.a for r in df.collect()) == ["1", "3"]


# -- dynamic typing (per-column; SURVEY §7.3.3 divergence) --------------------


def test_dynamic_typing_per_column(spark, write_csv_file):
    path = write_csv_file("n,s,b\n1,x,true\n2.5,y,false\n-3e2,z,TRUE\n")
    df = read_csv(spark, path, CSVOptions(dynamic_typing=True))
    types = dict(df.dtypes)
    assert types["n"] == "double"
    assert types["s"] == "string"
    assert types["b"] == "boolean"
    assert {r.n for r in df.collect()} == {1.0, 2.5, -300.0}


def test_dynamic_typing_per_column_config(spark, write_csv_file):
    # dynamicTyping accepts a column list or predicate (parser.ts:94)
    path = write_csv_file("a,b,c\n1,2,3\n4,5,6\n")
    df = read_csv(spark, path, CSVOptions(dynamic_typing=["a"]))
    types = dict(df.dtypes)
    assert types["a"] == "double" and types["b"] == "string"
    df2 = read_csv(spark, path, CSVOptions(dynamic_typing=lambda name: name != "c"))
    types2 = dict(df2.dtypes)
    assert types2 == {"a": "double", "b": "double", "c": "string"}


def test_unclosed_quote_is_lenient(spark, write_csv_file):
    # an unterminated quoted field consumes to end-of-line (lenient, like
    # the reference scanner) rather than erroring
    path = write_csv_file('a,b\n1,"unclosed\n2,ok\n')
    df, errors = read_csv_with_errors(spark, path, CSVOptions(with_row_index=True))
    vals = {r.a: r.b for r in df.collect()}
    assert vals["1"] == "unclosed"
    assert vals["2"] == "ok"
    errs = [(e.code, e.type) for e in errors.collect()]
    assert errs == [("QuoteNotClosed", "Quotes")]


def test_reader_meta(spark, write_csv_file):
    from bun_csv_spark.sources.csv_reader import reader_meta

    path = write_csv_file("x|y|z\n1|2|3\n4|5|6\n", name="meta.csv")
    meta = reader_meta(spark, path, CSVOptions(delimiter="auto"))
    assert meta["delimiter"] == "|"
    assert meta["fields"] == ["x", "y", "z"]
    assert meta["aborted"] is False and meta["truncated"] is False
    meta2 = reader_meta(spark, path, CSVOptions(delimiter="|", preview=1))
    assert meta2["truncated"] is True


def test_gzip_input(spark, tmp_path):
    # compressed CSV reads transparently (extension beyond the reference,
    # which only mmaps plain files)
    import gzip

    p = tmp_path / "z.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write("a,b\n1,x\n2,y\n")
    df = read_csv(spark, str(p))
    assert sorted(r.a for r in df.collect()) == ["1", "2"]


def test_multiline_quoted_newline(spark, write_csv_file):
    path = write_csv_file('a,b\n1,"line1\nline2"\n2,plain\n')
    df = read_csv(spark, path, CSVOptions(multiline=True))
    vals = {r.a: r.b for r in df.collect()}
    assert vals["1"] == "line1\nline2"
    assert vals["2"] == "plain"
