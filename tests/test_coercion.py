"""Coercion rules — exact reference semantics (row.ts:620-706, 442-458)."""

import pytest
from pyspark.sql import functions as F

from bun_csv_spark.functions.coercion import (
    apply_dynamic_typing,
    infer_column_type,
    parse_boolean,
    parse_currency,
    parse_date,
    parse_integer,
    parse_number,
    parse_percent,
)


def one(spark, value, fn):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(fn("v").alias("out")).collect()[0].out


@pytest.mark.parametrize(
    "text,expected",
    [
        ("1234.5", 1234.5),
        ("$1,234.50", 1234.5),
        ("€99", 99.0),
        ("£1,000", 1000.0),
        ("(123)", -123.0),   # accounting negative
        ("($1,234)", -1234.0),
        ("45%", 0.45),       # trailing percent -> /100
        ("abc", None),
        ("", None),
    ],
)
def test_parse_number(spark, text, expected):
    got = one(spark, text, parse_number)
    if expected is None:
        assert got is None
    else:
        assert abs(got - expected) < 1e-9


@pytest.mark.parametrize(
    "text,expected",
    [("1,234", 1234), ("42", 42), ("-7", -7), ("12abc", 12), ("abc", None)],
)
def test_parse_integer(spark, text, expected):
    assert one(spark, text, parse_integer) == expected


@pytest.mark.parametrize(
    "text,expected",
    [
        ("true", True), ("TRUE", True), ("1", True), ("yes", True), ("Y", True),
        ("false", False), ("0", False), ("no", False), ("N", False),
        ("maybe", None),
    ],
)
def test_parse_boolean(spark, text, expected):
    assert one(spark, text, parse_boolean) == expected


def test_parse_currency_and_percent(spark):
    assert one(spark, "$ 1,234.56", parse_currency) == 1234.56
    assert one(spark, "(€50)", parse_currency) == -50.0
    assert one(spark, "12.5%", parse_percent) == 0.125
    assert one(spark, "1,250%", parse_percent) == 12.5


def test_parse_date(spark):
    got = one(spark, "2024-03-15", parse_date)
    assert got is not None and got.year == 2024 and got.day == 15
    got2 = one(spark, "2024-03-15T10:30:00", parse_date)
    assert got2.hour == 10
    assert one(spark, "not a date", parse_date) is None


def test_infer_column_type(spark):
    nums = spark.createDataFrame([("1",), ("2.5",), ("-3e2",), (None,)], "v string")
    assert infer_column_type(nums, "v") == "number"
    bools = spark.createDataFrame([("true",), ("FALSE",)], "v string")
    assert infer_column_type(bools, "v") == "boolean"
    mixed = spark.createDataFrame([("1",), ("x",)], "v string")
    assert infer_column_type(mixed, "v") == "string"


def test_apply_dynamic_typing_empty_string_to_null(spark):
    df = spark.createDataFrame([("1",), ("",), ("3",)], "v string")
    out = apply_dynamic_typing(df)
    vals = [r.v for r in out.collect()]
    assert vals == [1.0, None, 3.0]


def _infer_by_counts(df, columns):
    """The three-counter inference form (one ``sum`` per column each for
    non-empty, non-boolean and non-number values) that the ``bit_or``
    class codes replaced; kept as the law's reference."""
    from bun_csv_spark.functions.coercion import NUMBER_RE

    aggs = []
    for i, c in enumerate(columns):
        s = F.col(c).cast("string")
        non_empty = s.isNotNull() & (s != "")
        aggs.append(F.sum(F.when(non_empty, 1).otherwise(0)).alias(f"n_{i}"))
        aggs.append(F.sum(F.when(
            non_empty & ~F.lower(s).isin("true", "false"), 1).otherwise(0)).alias(f"nb_{i}"))
        aggs.append(F.sum(F.when(
            non_empty & ~s.rlike(NUMBER_RE), 1).otherwise(0)).alias(f"nn_{i}"))
    row = df.agg(*aggs).first()
    out = {}
    for i, c in enumerate(columns):
        if row[f"n_{i}"] and row[f"nb_{i}"] == 0:
            out[c] = "boolean"
        elif row[f"n_{i}"] and row[f"nn_{i}"] == 0:
            out[c] = "number"
        else:
            out[c] = "string"
    return out


def test_infer_column_types_equals_counter_form(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bun_csv_spark.functions.coercion import infer_column_types

    tricky = ["TRUE", "false", "True", " 1", "1", "1.", ".5", "1e5", "-2E-3", "-",
              "NaN", "Infinity", "١٢", "", None, "12abc", "0x1F", "+1", "1.2.3",
              "\\d", "yes", "`q`"]
    value = st.one_of(st.sampled_from(tricky), st.text(max_size=4))
    columns = ["a", "b c", "d.e", "f`g"]

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.tuples(*[value] * len(columns)), max_size=6))
    def check(rows):
        df = spark.createDataFrame(rows, ", ".join(f"`{c.replace('`', '``')}` string"
                                                  for c in columns))
        want = _infer_by_counts(df.toDF(*[f"c{i}" for i in range(len(columns))]),
                                [f"c{i}" for i in range(len(columns))])
        got = infer_column_types(df, columns)
        assert list(got.values()) == list(want.values())

    check()
    # the raw regex literal keeps its backslashes: numbers do type
    df = spark.createDataFrame([("1.5", "true", "x")], "n string, b string, s string")
    assert infer_column_types(df, ["n", "b", "s"]) == {
        "n": "number", "b": "boolean", "s": "string"}
