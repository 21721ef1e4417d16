"""Type-coercion column expressions with the reference's exact rules.

The reference coerces per-field at access time (reference: src/ts/row.ts:
620-706 for schema types, row.ts:442-458 for dynamicTyping). Every rule here
is a pure built-in Column expression — JVM-side, codegen'd, no UDFs — so the
coercions vectorize and survive a 100 TB scan.

Intentional divergence (SURVEY §7.3.3): the reference's dynamicTyping is
per-VALUE (one column can yield mixed JS types row by row,
test/unit/dynamic-typing.test.ts:225-243). Spark columns have one type, so
``apply_dynamic_typing`` infers per COLUMN: a column is cast only when every
non-null value conforms. ``dynamic_type`` offers the per-value behavior as a
string-tagged struct for callers that need exact parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Currency glyphs stripped by the reference number/currency parser
# (row.ts:626-646, 679-690).
_CURRENCY_CHARS = r"[$€£¥,\s]"
# dynamicTyping number detector (row.ts:451): /^-?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$/
NUMBER_RE = r"^-?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"

_TRUE_WORDS = ("true", "1", "yes", "y")
_FALSE_WORDS = ("false", "0", "no", "n")


def _clean_numeric_text(col: Column) -> Column:
    """Strip currency glyphs/commas and normalize accounting negatives
    ``(123)`` -> ``-123`` (row.ts:626-646)."""
    s = F.trim(col.cast("string"))
    is_accounting = s.rlike(r"^\(.*\)$")
    body = F.when(is_accounting, F.regexp_replace(s, r"^\((.*)\)$", "-$1")).otherwise(s)
    return F.regexp_replace(body, _CURRENCY_CHARS, "")


def parse_number(col: Column | str) -> Column:
    """number/float coercion: currency strip, accounting negative,
    trailing ``%`` divides by 100 (row.ts:626-646). Unparseable -> NULL
    (the reference throws from getTyped; as a column expr we yield NULL and
    let callers enforce nullability)."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = _clean_numeric_text(c)
    is_pct = cleaned.endswith("%")
    base = F.when(is_pct, F.regexp_replace(cleaned, "%$", "")).otherwise(cleaned)
    num = base.try_cast("double")
    return F.when(is_pct, num / 100.0).otherwise(num)


def parse_integer(col: Column | str) -> Column:
    """integer coercion: strip commas, base-10 parse (row.ts:648-657).
    Like JS parseInt, a leading numeric prefix parses ('12abc' -> 12)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(F.trim(c.cast("string")), ",", "")
    prefix = F.regexp_extract(s, r"^(-?\d+)", 1)
    return F.when(prefix != "", prefix.cast("long")).otherwise(F.lit(None).cast("long"))


def parse_boolean(col: Column | str) -> Column:
    """true/1/yes/y -> true; false/0/no/n -> false; case-insensitive
    (row.ts:659-666). Anything else -> NULL."""
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(F.trim(c.cast("string")))
    return (
        F.when(lowered.isin(*_TRUE_WORDS), F.lit(True))
        .when(lowered.isin(*_FALSE_WORDS), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def parse_date(col: Column | str) -> Column:
    """ISO-8601 date/timestamp parse (row.ts:668-677 uses ``new Date()``)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.trim(c.cast("string"))
    return F.coalesce(
        F.try_to_timestamp(s),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd")),
    )


def parse_currency(col: Column | str) -> Column:
    """currency coercion: strip symbols + whitespace, accounting negatives
    (row.ts:679-690)."""
    c = F.col(col) if isinstance(col, str) else col
    return _clean_numeric_text(c).try_cast("double")


def parse_percent(col: Column | str) -> Column:
    """percent coercion: strip ``%`` and commas, divide by 100
    (row.ts:692-701)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(F.trim(c.cast("string")), r"[,%]", "")
    return s.try_cast("double") / 100.0


def dynamic_type(col: Column | str) -> Column:
    """Per-VALUE dynamicTyping (row.ts:442-458) as a tagged struct
    ``{type: string, bool: boolean, num: double, str: string}`` — the exact
    reference behavior where one column mixes types row by row."""
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    lowered = F.lower(s)
    is_null = s.isNull() | (s == "")
    is_bool = lowered.isin("true", "false")
    is_num = s.rlike(NUMBER_RE)
    tag = (
        F.when(is_null, "null")
        .when(is_bool, "boolean")
        .when(is_num, "number")
        .otherwise("string")
    )
    return F.struct(
        tag.alias("type"),
        F.when(is_bool, lowered == "true").alias("bool"),
        F.when(is_num, s.cast("double")).alias("num"),
        F.when(~(is_null | is_bool | is_num), s).alias("str"),
    )


def _quoted(name: str) -> str:
    """``name`` as a SQL identifier, whatever characters it holds."""
    return "`" + name.replace("`", "``") + "`"


def _class_code_sql(column: str) -> str:
    """SQL text of one value's inference class: NULL or "" -> 0, a
    boolean word -> 1, a ``NUMBER_RE`` number -> 2, anything else -> 4.
    The two word sets are disjoint, so OR-ing a column's codes gives 1
    (all boolean), 2 (all number) or anything else (string). The regex is
    a raw literal: a plain SQL string literal would eat its backslashes."""
    s = f"CAST({_quoted(column)} AS STRING)"
    return (
        f"CASE WHEN {s} IS NULL OR {s} = '' THEN 0"
        f" WHEN lower({s}) IN ('true', 'false') THEN 1"
        f" WHEN {s} RLIKE r'{NUMBER_RE}' THEN 2 ELSE 4 END"
    )


def infer_column_types(df: DataFrame, columns: list[str]) -> dict[str, str]:
    """Per-COLUMN inference for many columns in ONE aggregate pass:
    'boolean' | 'number' | 'string' per column.

    A column conforms to a type when every non-null, non-empty value
    parses, and it needs at least one such value. Each column is one
    ``bit_or`` of its values' class codes (``_class_code_sql``), and all
    of them ride a single map-side combinable aggregation: one scan
    total, not one scan per column (a 16-column table at 100 TB must not
    pay 16 passes). The aggregates are SQL text, one parse for the lot
    rather than a Python ``Column`` tree per column."""
    if not columns:
        return {}
    row = df.selectExpr(
        *[f"bit_or({_class_code_sql(c)}) AS c{i}" for i, c in enumerate(columns)]
    ).first()
    kinds = {1: "boolean", 2: "number"}
    return {c: kinds.get(row[i], "string") for i, c in enumerate(columns)}


def infer_column_type(df: DataFrame, column: str) -> str:
    """Single-column form of ``infer_column_types``."""
    return infer_column_types(df, [column])[column]


def apply_dynamic_typing(
    df: DataFrame, columns=None
) -> DataFrame:
    """Cast every conforming string column per ``infer_column_type``.

    ``columns`` mirrors the reference's dynamicTyping config shapes
    (parser.ts:94, row.ts:423-436): None/True = all string columns; a
    list of names; or a predicate ``(name) -> bool``. Empty string
    becomes NULL first (dynamicTyping maps "" -> null, row.ts:447)."""
    from pyspark.sql import types as T

    string_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    if columns is None or columns is True:
        targets = string_cols
    elif callable(columns):
        targets = [c for c in string_cols if columns(c)]
    else:
        targets = [c for c in columns if c in string_cols]
    inferred = infer_column_types(df, targets)  # ONE scan for all columns
    casts = {}
    for c in targets:
        cleaned = f"CASE WHEN {_quoted(c)} = '' THEN NULL ELSE {_quoted(c)} END"
        if inferred[c] == "boolean":
            casts[c] = F.expr(f"lower({cleaned}) = 'true'")
        elif inferred[c] == "number":
            casts[c] = F.expr(f"try_cast({cleaned} AS DOUBLE)")
        else:
            casts[c] = F.expr(cleaned)
    return df.withColumns(casts)
