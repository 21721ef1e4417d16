"""Law tests for the exact CSV path: the distributed read equals a
line-by-line Python model of the reference's semantics (header = first
surviving line, skipFirstNLines/comment/blank filters, 1-based record
ranges with the header as line 1, 0-based data-row error indices,
relaxed error kinds, ``__parsed_extra`` overflow), whichever line order
the reader picks — the job-free split-offset key or the dense stats
index — and whether or not the errors frame is built."""

from __future__ import annotations

import re

import pytest

from bun_csv_spark.errors import ERROR_TYPES
from bun_csv_spark.sources.csv_reader import (
    _JS_WS_CHARS,
    ERR_MAX_RECORD_SIZE,
    ERR_TOO_FEW,
    ERR_TOO_MANY,
    PARSED_EXTRA,
    ROW_IDX,
    CSVOptions,
    _apply_header_transforms,
    _tokenize_line,
    read_csv,
    read_csv_with_errors,
)

_BREAK = re.compile(r"\r\n|\r|\n")


def _lines(text: str) -> list[str]:
    """Lines as Spark's text source cuts them (no empty last line)."""
    parts = _BREAK.split(text)
    return parts[:-1] if parts and parts[-1] == "" else parts


def model(texts: list[str], opts: CSVOptions) -> tuple[list[tuple], list[tuple]]:
    """(data rows, error rows) of the exact path over ``texts``, the files
    of one read in name order, read as one concatenated line stream."""
    raw = [ln for t in texts for ln in _lines(t)]
    kept = []
    for idx, ln in enumerate(raw):
        if idx < opts.skip_first_n_lines:
            continue
        if opts.comments and ln.startswith(opts.comments):
            continue
        if opts.skip_empty_rows == "greedy" and ln.strip(_JS_WS_CHARS) == "":
            continue
        if opts.skip_empty_rows is True and ln == "":
            continue
        kept.append((idx, ln))
    if opts.has_header:
        names = [h if h is not None else "" for h in
                 _tokenize_line(kept[0][1], opts.delimiter, opts.quote_char)[0]]
        kept = kept[1:]
    else:
        width = len(_tokenize_line(kept[0][1], opts.delimiter, opts.quote_char)[0])
        names = opts.columns or [f"col{i}" for i in range(width)]
    n = len(_apply_header_transforms(names, opts))

    recs = []
    for idx, ln in kept:
        if opts.max_record_size is not None and len(ln.encode()) > opts.max_record_size:
            vals, errs = [], [ERR_MAX_RECORD_SIZE]
        else:
            vals, _, errs = _tokenize_line(ln, opts.delimiter, opts.quote_char)
            if len(vals) < n:
                errs = errs + [ERR_TOO_FEW]
            elif len(vals) > n:
                errs = errs + [ERR_TOO_MANY]
        recs.append((idx, vals, errs))
    if opts.from_line is not None or opts.to_line is not None or opts.preview:
        off = 1 if opts.has_header else 0
        start = max(1, opts.from_line - off) if opts.from_line is not None else 1
        stop = len(recs) if opts.to_line is None else opts.to_line - off
        if opts.preview:
            stop = min(stop, start + opts.preview - 1)
        recs = recs[start - 1:max(stop, start - 1)]

    relaxed = set()
    if opts.relax_column_count or opts.relax_column_count_less:
        relaxed.add(ERR_TOO_FEW)
    if opts.relax_column_count or opts.relax_column_count_more:
        relaxed.add(ERR_TOO_MANY)
    errors, data = [], []
    for rec0, (idx, vals, errs) in enumerate(recs):
        for code in errs:
            if code in relaxed:
                continue
            if code in (ERR_TOO_FEW, ERR_TOO_MANY):
                msg = f"expected {n} fields, got {len(vals)}"
            elif code == ERR_MAX_RECORD_SIZE:
                msg = f"record exceeds {opts.max_record_size} bytes"
            else:
                msg = f"malformed quoting: {code}"
            errors.append((rec0, ERROR_TYPES.get(code), code, msg))
        dropped = errs if opts.skip_records_with_error else ERR_MAX_RECORD_SIZE in errs
        if dropped:
            continue
        row = [*vals[:n], *[None] * (n - len(vals)), vals[n:] if len(vals) > n else None]
        data.append(tuple([idx] + row if opts.with_row_index else row))
    return data, errors


# Every kind of line the options act on: comments and blanks before the
# header, a whitespace-only line (greedy only), short and long rows, quoted
# fields holding delimiters and doubled quotes, a malformed quote, and a
# long row for max_record_size.
BODY = [
    "# preamble comment",
    "",
    "id,name,qty",
    "1,alpha,10",
    "# mid comment",
    "2,\"be,ta\",20",
    "3,gamma",
    "",
    "  \t ",
    "4,delta,40,extra1,extra2",
    '5,"say ""hi""",50',
    "6,,",
    '7,"",70',
    '8,"bad"x,80',
    "9," + "w" * 120 + ",90",
    "10,été,100",
]


def _text(lines: list[str], newline: str = "\n") -> str:
    return newline.join(lines) + newline


# every case takes the exact path; a max_record_size no line reaches
# sends the ones that set no other exact-path option there
BIG = 1 << 20
OPTION_CASES = {
    "header": CSVOptions(max_record_size=BIG),
    "header_relax": CSVOptions(relax_column_count=True),
    "no_header": CSVOptions(has_header=False, relax_column_count_more=True),
    "comments": CSVOptions(comments="#", relax_column_count_less=True),
    "greedy": CSVOptions(comments="#", skip_empty_rows="greedy", max_record_size=BIG),
    "keep_empty": CSVOptions(comments="#", skip_empty_rows=False, max_record_size=BIG),
    "skip_first": CSVOptions(skip_first_n_lines=2),
    "skip_first_no_header": CSVOptions(skip_first_n_lines=3, has_header=False),
    "from_to": CSVOptions(comments="#", from_line=3, to_line=9),
    "from_to_no_header": CSVOptions(has_header=False, from_line=4, to_line=7),
    "preview": CSVOptions(comments="#", preview=4, max_record_size=BIG),
    "from_preview": CSVOptions(from_line=5, preview=3, relax_column_count=True),
    "max_record_size": CSVOptions(comments="#", max_record_size=64),
    "skip_errors": CSVOptions(comments="#", skip_records_with_error=True),
    "row_index": CSVOptions(comments="#", with_row_index=True),
    "row_index_from_to": CSVOptions(with_row_index=True, from_line=4, to_line=10),
}


def _check(spark, paths_or_path, texts, opts):
    want_data, want_errors = model(texts, opts)
    data, errors = read_csv_with_errors(spark, paths_or_path, opts)
    assert [tuple(r) for r in data.collect()] == want_data
    assert [tuple(r) for r in errors.collect()] == want_errors
    only = read_csv(spark, paths_or_path, opts)
    assert only.columns == data.columns
    assert [tuple(r) for r in only.collect()] == want_data
    return data


@pytest.mark.parametrize("case", sorted(OPTION_CASES))
def test_exact_path_equals_line_model(spark, tmp_path, case):
    opts = OPTION_CASES[case]
    path = tmp_path / "t.csv"
    path.write_text(_text(BODY), encoding="utf-8")
    data = _check(spark, str(path), [_text(BODY)], opts)
    assert data.columns[-1] == PARSED_EXTRA
    assert (data.columns[0] == ROW_IDX) == opts.with_row_index


def test_exact_path_crlf_and_file_uri(spark, tmp_path):
    text = _text(BODY, "\r\n")
    path = tmp_path / "crlf.csv"
    path.write_bytes(text.encode("utf-8"))
    for opts in (CSVOptions(comments="#", max_record_size=BIG),
                 CSVOptions(skip_first_n_lines=2),
                 CSVOptions(comments="#", from_line=2, to_line=6)):
        _check(spark, "file://" + str(path), [text], opts)


def test_exact_path_multi_file_directory(spark, tmp_path):
    # one line stream in file-name order; only part-0's first line is a header
    d = tmp_path / "parts"
    d.mkdir()
    texts = [
        _text(BODY),
        _text(["11,kappa,110", "12,lambda", "# c", "13,mu,130,x"]),
        _text(["14,nu,140"]),
    ]
    for i, t in enumerate(texts):
        (d / f"part-{i}.csv").write_text(t, encoding="utf-8")
    for opts in (CSVOptions(comments="#", max_record_size=BIG),
                 CSVOptions(comments="#", with_row_index=True),
                 CSVOptions(has_header=False, from_line=10, to_line=20)):
        _check(spark, str(d), texts, opts)


@pytest.fixture()
def tiny_splits(spark):
    """Cut a file scan into 1 KB splits for the duration of a test."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("case", ["header", "comments", "skip_first", "from_to",
                                  "row_index", "skip_first_no_header"])
def test_exact_path_across_many_splits(spark, tmp_path, tiny_splits, case):
    # a 6 KB file in 1 KB splits: the header is in the first split, and
    # record windows and error row numbers span every split
    rows = BODY[3:] * 30
    text = _text(BODY[:3] + rows)
    path = tmp_path / "many.csv"
    path.write_text(text, encoding="utf-8")
    _check(spark, str(path), [text], OPTION_CASES[case])


@pytest.mark.parametrize("opts", [
    CSVOptions(comments="#", max_record_size=BIG),
    CSVOptions(skip_first_n_lines=40, relax_column_count=True),
    CSVOptions(skip_first_n_lines=40, has_header=False, from_line=2, to_line=30),
])
def test_exact_path_header_past_the_first_split(spark, tmp_path, tiny_splits, opts):
    # 40 preamble lines (~2 KB) put the first surviving line beyond the
    # 1 KB first split, so the reader must build the dense index
    preamble = [f"# preamble line {i:03d} " + "." * 30 for i in range(40)]
    text = _text(preamble + BODY[2:] * 10)
    path = tmp_path / "late.csv"
    path.write_text(text, encoding="utf-8")
    _check(spark, str(path), [text], opts)


def _jobs_while(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_exact_read_builds_without_a_job(spark, tmp_path):
    path = tmp_path / "t.csv"
    path.write_text(_text(BODY), encoding="utf-8")
    opts = CSVOptions(relax_column_count=True, comments="#")
    assert _jobs_while(spark, lambda: read_csv(spark, str(path), opts), "law-plain") == 0
    plan = read_csv(spark, str(path), opts)._jdf.queryExecution().executedPlan()
    assert "BroadcastExchange" not in plan.toString()
    assert "InMemoryTableScan" not in plan.toString()
    # the row index is what the dense stats aggregation is for
    indexed = CSVOptions(relax_column_count=True, with_row_index=True)
    assert _jobs_while(spark, lambda: read_csv(spark, str(path), indexed), "law-indexed") > 0
