"""The CSV layer under the oracle gate: coercions, stats, unparse, the
copy-on-write edit overlay, typed schemas, the reader's option matrix and
the CSV/JSONL round trips."""

from __future__ import annotations

from pyspark.sql import functions as F

from bun_csv_spark.functions.coercion import (
    dynamic_type,
    parse_boolean,
    parse_currency,
    parse_integer,
    parse_percent,
)
from bun_csv_spark.functions.schema import Field, apply_schema
from bun_csv_spark.operators.edits import EditLog
from bun_csv_spark.operators.frame import with_row_index
from bun_csv_spark.operators.stats import column_stats
from bun_csv_spark.sources.csv_reader import (
    CSVOptions,
    PARSED_EXTRA,
    _utf8_temp_file,
    read_csv,
    read_csv_with_errors,
)
from bun_csv_spark.sources.csv_writer import convert, read_jsonl, write_csv

from gates.common import Family, Plan, _scratch_dir, _t


GATES = Family()


def _nation_csv_fixture(
    spark, sf_dir, ragged: bool = False, comments: bool = False,
    empties: bool = False,
) -> str:
    """Serialize nation (25 rows, driver-side) to a CSV file with
    deterministically planted irregularities, for the reader option-matrix
    gates (reference test/unit/errors.test.ts:39-163,
    phase1-features.test.ts:58-501). Returns the file path.

    - ``comments``: a '# …' line before the header and before every row
      whose key is a multiple of 5.
    - ``ragged``: rows with key % 7 == 3 drop the last field
      (TooFewFields); otherwise rows with key % 5 == 2 gain an extra
      field ``x{key}`` (TooManyFields).
    - ``empties`` (r18): a truly-EMPTY line after every row whose key is
      a multiple of 4, and a whitespace-only line (spaces + a tab —
      skipped only by skipEmptyRows='greedy', parser.ts:70-71) after
      every row whose key is a multiple of 6.

    The file is removed when the interpreter exits."""
    rows = _t(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    lines = []
    if comments:
        lines.append("# leading comment before the header")
    lines.append("n_nationkey,n_name,n_regionkey")
    for r in rows:
        k = r["n_nationkey"]
        if comments and k % 5 == 0:
            lines.append(f"# comment {k}")
        if ragged and k % 7 == 3:
            lines.append(f"{k},{r['n_name']}")
        elif ragged and k % 5 == 2:
            lines.append(f"{k},{r['n_name']},{r['n_regionkey']},x{k}")
        else:
            lines.append(f"{k},{r['n_name']},{r['n_regionkey']}")
        if empties and k % 4 == 0:
            lines.append("")
        if empties and k % 6 == 0:
            lines.append("  \t ")
    return _utf8_temp_file("\n".join(lines) + "\n", "bcsv_opts_")


# The oracle asserts the expected COERCION RESULTS (independent of our
# parser implementation).
@GATES.gate("coercion_pipeline", """
        SELECT c_custkey,
               CASE WHEN c_custkey % 2 = 0 THEN c_custkey::DOUBLE
                    ELSE -(c_custkey::DOUBLE) END AS parsed_currency,
               (c_custkey % 200) / 100.0 AS parsed_percent,
               c_custkey % 4 IN (0, 1) AS parsed_bool,
               (1000 + (c_custkey % 1000))::BIGINT AS parsed_int
        FROM customer
    """)
def q_coercion_pipeline(spark, sf_dir):
    """Schema-type coercions: currency/accounting, percent, boolean,
    integer-with-thousands (row.ts:620-706). Inputs are strings built from
    c_custkey so the oracle can assert the expected parse results."""
    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey").cast("string")
    cur_text = F.when(
        F.col("c_custkey") % 2 == 0, F.concat(F.lit("$"), ck)
    ).otherwise(F.concat(F.lit("($"), ck, F.lit(")")))
    pct_text = F.concat((F.col("c_custkey") % 200).cast("string"), F.lit("%"))
    bool_text = (
        F.when(F.col("c_custkey") % 4 == 0, "yes")
        .when(F.col("c_custkey") % 4 == 1, "TRUE")
        .when(F.col("c_custkey") % 4 == 2, "n")
        .otherwise("0")
    )
    int_text = F.concat(
        F.lit("1,"), F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0")
    )
    return cust.select(
        "c_custkey",
        parse_currency(cur_text).alias("parsed_currency"),
        parse_percent(pct_text).alias("parsed_percent"),
        parse_boolean(bool_text).alias("parsed_bool"),
        parse_integer(int_text).alias("parsed_int"),
    )


@GATES.gate("stats_columns", """
        SELECT 'c_custkey' AS "column", count(*)::BIGINT AS count,
               (count(*) - count(c_custkey))::BIGINT AS null_count,
               count(DISTINCT c_custkey)::BIGINT AS unique_count,
               round(min(c_custkey)::DOUBLE, 4) AS min_num,
               round(max(c_custkey)::DOUBLE, 4) AS max_num,
               round(avg(c_custkey), 4) AS mean_num,
               'number' AS inferred_type
        FROM customer
        UNION ALL
        SELECT 'c_name', count(*)::BIGINT,
               (count(*) - count(c_name))::BIGINT,
               count(DISTINCT c_name)::BIGINT,
               NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, 'string'
        FROM customer
        UNION ALL
        SELECT 'c_acctbal', count(*)::BIGINT,
               (count(*) - count(c_acctbal))::BIGINT,
               count(DISTINCT c_acctbal)::BIGINT,
               round(min(c_acctbal), 4), round(max(c_acctbal), 4),
               round(avg(c_acctbal), 4), 'number'
        FROM customer
        UNION ALL
        SELECT 'c_mktsegment', count(*)::BIGINT,
               (count(*) - count(c_mktsegment))::BIGINT,
               count(DISTINCT c_mktsegment)::BIGINT,
               NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
               CASE WHEN count(DISTINCT c_mktsegment) <= 10 AND count(*) > 100
                    THEN 'categorical' ELSE 'string' END
        FROM customer
    """)
def q_stats_columns(spark, sf_dir):
    """stats CLI command: per-column count/nulls/exact-distinct/min/max/mean
    + type inference (cli/commands/stats.ts:17-113)."""
    cust = _t(spark, sf_dir, "customer")
    st = column_stats(cust, ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"])
    return st.select(
        "column",
        "count",
        "null_count",
        "unique_count",
        F.round("min_num", 4).alias("min_num"),
        F.round("max_num", 4).alias("max_num"),
        F.round("mean_num", 4).alias("mean_num"),
        "inferred_type",
    )


@GATES.gate("unparse_lines", (
    "SELECT n_nationkey::VARCHAR || ',' || n_name AS line FROM nation"
))
def q_unparse_lines(spark, sf_dir):
    """unparse/serialize rows to delimited text (unparse.ts:58-137)."""
    nation = _t(spark, sf_dir, "nation")
    line = F.concat_ws(",", F.col("n_nationkey").cast("string"), F.col("n_name"))
    return nation.select(line.alias("line"))


@GATES.gate("edit_overlay", """
        SELECT 0::BIGINT AS __row_idx, '900' AS n_nationkey,
               'FIRST' AS n_name, '9' AS n_regionkey
        UNION ALL
        SELECT 10::BIGINT, '901', 'MIDDLE', '9'
        UNION ALL
        SELECT (CASE WHEN n_nationkey <= 4 THEN n_nationkey + 1
                     WHEN n_nationkey <= 9 THEN n_nationkey
                     ELSE n_nationkey + 1 END)::BIGINT,
               n_nationkey::VARCHAR,
               CASE WHEN n_nationkey = 3 THEN 'EDITED' ELSE n_name END,
               n_regionkey::VARCHAR
        FROM nation WHERE n_nationkey <> 5
    """, Plan(bounded_window="window over the driver-side edit log"))
def q_edit_overlay(spark, sf_dir):
    """Copy-on-write replay (parser.ts:744-899) over the nation table:
    edit one cell, delete one row, insert two rows; the oracle states the
    expected final table."""
    nation = (
        _t(spark, sf_dir, "nation")
        .orderBy("n_nationkey")
        .select(
            F.col("n_nationkey").cast("string").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("string").alias("n_regionkey"),
        )
    )

    indexed = with_row_index(nation)
    log = EditLog()
    log.set_cell(3, "n_name", "EDITED")
    log.delete_row(5)
    log.insert_row(0, ["900", "FIRST", "9"])
    log.insert_row(10, ["901", "MIDDLE", "9"])
    return log.apply(indexed)


@GATES.gate("dynamic_typing_struct", """
        SELECT c_custkey,
               CASE c_custkey % 4 WHEN 0 THEN 'number' WHEN 1 THEN 'boolean'
                    WHEN 2 THEN 'null' ELSE 'string' END AS vtype,
               CASE WHEN c_custkey % 4 = 1 THEN true END AS vbool,
               CASE WHEN c_custkey % 4 = 0 THEN c_custkey::DOUBLE END AS vnum,
               CASE WHEN c_custkey % 4 = 3 THEN 'hello' END AS vstr
        FROM customer
    """)
def q_dynamic_typing_struct(spark, sf_dir):
    """Per-VALUE dynamicTyping (row.ts:442-458): mixed-type column tagged
    and parsed per row, flattened for comparison."""
    cust = _t(spark, sf_dir, "customer")
    raw = (
        F.when(F.col("c_custkey") % 4 == 0, F.col("c_custkey").cast("string"))
        .when(F.col("c_custkey") % 4 == 1, F.lit("true"))
        .when(F.col("c_custkey") % 4 == 2, F.lit(""))
        .otherwise(F.lit("hello"))
    )
    tagged = dynamic_type(raw)
    return cust.select(
        "c_custkey",
        tagged["type"].alias("vtype"),
        tagged["bool"].alias("vbool"),
        tagged["num"].alias("vnum"),
        tagged["str"].alias("vstr"),
    )


@GATES.gate("csv_roundtrip", """
        SELECT n_regionkey::DOUBLE AS n_regionkey,
               count(*)::BIGINT AS n,
               round(sum(n_nationkey), 2) AS key_sum,
               min(n_name) AS first_name
        FROM nation GROUP BY 1
    """)
def q_csv_roundtrip(spark, sf_dir):
    """The CSV layer under the oracle gate: serialize nation through the
    writer expression pipeline, re-read with the exact-path reader, and
    aggregate; the oracle computes from the original parquet."""
    nation = _t(spark, sf_dir, "nation")
    out = _scratch_dir("csv_rt", sf_dir) + "/nation_csv"
    write_csv(nation.coalesce(1), out, quote_style="minimal")
    back = read_csv(
        spark, out, CSVOptions(dynamic_typing=True, with_row_index=True)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("n_nationkey"), 2).alias("key_sum"),
        F.min("n_name").alias("first_name"),
    )


# reader option-matrix gates: the fixture is nation serialized with
# deterministically planted irregularities (_nation_csv_fixture), so
# the oracle states the expected surviving rows from the parquet
_CSV_OPTS_COMMENTS_SQL = """
        SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
               n_regionkey::VARCHAR AS n_regionkey
        FROM nation
    """


@GATES.gate("csv_opts_comments", _CSV_OPTS_COMMENTS_SQL)
def q_csv_opts_comments(spark, sf_dir):
    """Option matrix: comment-line skipping on the native path, including
    a comment BEFORE the header (parser.ts:72-73; the header/schema probe
    must skip it)."""
    path = _nation_csv_fixture(spark, sf_dir, comments=True)
    return read_csv(spark, path, CSVOptions(comments="#"))


# r18: greedy skipEmptyRows drops every planted empty/whitespace
# line — the surviving set is exactly the unplanted table
@GATES.gate("csv_opts_skipempty", _CSV_OPTS_COMMENTS_SQL)
def q_csv_opts_skipempty(spark, sf_dir):
    """Option matrix (r18, previously pytest-only): skipEmptyRows in
    GREEDY mode drops both truly-empty lines and whitespace-only lines
    (parser.ts:70-71); every real record must survive exactly once with
    its fields still aligned — which the value-hash proves against the
    unplanted nation table."""
    path = _nation_csv_fixture(spark, sf_dir, empties=True)
    return read_csv(spark, path, CSVOptions(skip_empty_rows="greedy"))


@GATES.gate("csv_opts_fromto", """
        SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
               n_regionkey::VARCHAR AS n_regionkey
        FROM nation WHERE n_nationkey BETWEEN 3 AND 18
    """)
def q_csv_opts_fromto(spark, sf_dir):
    """Option matrix: fromLine/toLine as 1-based file lines with the
    header as line 1 (parser.ts:1504-1513) — lines 5..20 of a headered
    file are data records 4..19."""
    path = _nation_csv_fixture(spark, sf_dir)
    df = read_csv(spark, path, CSVOptions(from_line=5, to_line=20))
    return df.select("n_nationkey", "n_name", "n_regionkey")


@GATES.gate("csv_opts_relax", """
        SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
               CASE WHEN n_nationkey % 7 = 3 THEN NULL
                    ELSE n_regionkey::VARCHAR END AS n_regionkey,
               CASE WHEN n_nationkey % 7 <> 3 AND n_nationkey % 5 = 2
                    THEN 'x' || n_nationkey::VARCHAR END AS extra
        FROM nation
    """)
def q_csv_opts_relax(spark, sf_dir):
    """Option matrix: relaxColumnCount — short rows pad NULL, overflow
    lands in __parsed_extra (row.ts:508-523), no error rows."""
    path = _nation_csv_fixture(spark, sf_dir, ragged=True)
    df, errors = read_csv_with_errors(
        spark, path, CSVOptions(relax_column_count=True)
    )
    assert errors.count() == 0  # both error kinds relaxed away
    return df.select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.when(
            F.col(PARSED_EXTRA).isNotNull(), F.concat_ws(";", PARSED_EXTRA)
        ).alias("extra"),
    )


@GATES.gate("csv_opts_errors", """
        SELECT n_nationkey::BIGINT AS row, 'FieldMismatch' AS type,
               CASE WHEN n_nationkey % 7 = 3 THEN 'TooFewFields'
                    ELSE 'TooManyFields' END AS code,
               CASE WHEN n_nationkey % 7 = 3 THEN 'expected 3 fields, got 2'
                    ELSE 'expected 3 fields, got 4' END AS message
        FROM nation
        WHERE n_nationkey % 7 = 3 OR (n_nationkey % 7 <> 3 AND n_nationkey % 5 = 2)
    """, Plan(bounded_window="window over the skipped-error report rows"))
def q_csv_opts_errors(spark, sf_dir):
    """Option matrix: structured TooFewFields/TooManyFields error rows
    with 0-based data-row indices (errors.ts:6-53)."""
    path = _nation_csv_fixture(spark, sf_dir, ragged=True)
    _df, errors = read_csv_with_errors(
        spark, path, CSVOptions(with_row_index=True)
    )
    return errors.select(
        F.col("row").cast("long").alias("row"), "type", "code", "message"
    )


@GATES.gate("schema_apply", """
        SELECT c_custkey,
               (CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_custkey END)::BIGINT AS sid,
               CASE WHEN c_custkey % 3 = 0 THEN 0.0
                    ELSE (c_custkey * 2)::DOUBLE END AS sbal,
               CASE WHEN c_custkey % 2 = 0 THEN true ELSE NULL END AS sok
        FROM customer
    """)
def q_schema_apply(spark, sf_dir):
    """Typed Schema<T> enforcement, permissive mode (types.ts:6-31,
    row.ts:386-411): integer parse failure -> NULL, currency default fills
    NULL, non-boolean text -> NULL."""
    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    staged = cust.select(
        "c_custkey",
        F.when(ck % 5 == 0, F.concat(F.lit("x"), ck.cast("string")))
        .otherwise(ck.cast("string"))
        .alias("sid"),
        F.when(ck % 3 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("$"), (ck * 2).cast("string"))
        ).alias("sbal"),
        F.when(ck % 2 == 0, "yes").otherwise("nope").alias("sok"),
    )
    schema = {
        "sid": Field("integer"),
        "sbal": Field("currency", default=0.0),
        "sok": Field("boolean"),
    }
    return apply_schema(staged, schema, mode="permissive")


@GATES.gate("jsonl_roundtrip", """
        SELECT doc_id, text, lang, source, n_chars FROM documents
    """)
def q_jsonl_roundtrip(spark, sf_dir):
    """Full convert cycle: documents -> distributed JSONL sink ->
    read_jsonl with an explicit schema (no sampling pass) -> values
    intact. The oracle is the source table itself — a lossy step
    anywhere in the cycle breaks the hash."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out = _scratch_dir("jsonl_rt", sf_dir) + "/docs"
    convert(docs, "jsonl", out)
    return read_jsonl(spark, out, schema=docs.schema).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
