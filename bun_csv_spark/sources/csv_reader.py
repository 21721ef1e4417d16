"""CSV reader with the reference's full option surface, Spark-first.

The reference is an option-rich CSV parser (reference: src/ts/parser.ts:
59-217 CSVParserOptions; SURVEY.md §1.3-1.5, §2.1-2.2). Two physical paths:

- **native** (`spark.read.csv`): the scale path. Used whenever the
  requested options map onto Spark's reader (sep/quote/escape/header/
  comment/encoding/multiLine/trim). Splittable scans, pushdown, codegen —
  this is what runs on 100 TB.
- **exact** (`spark.read.text` + a per-line RFC-4180 tokenizer in
  mapInPandas): the fidelity path, engaged only when an option needs
  per-row identity or error parity that Spark's reader cannot express
  (fromLine/toLine, skipFirstNLines, maxRecordSize, relaxColumnCount*,
  `__parsed_extra` overflow, structured TooFewFields/TooManyFields
  errors). Arrow-batched; costs one Python hop; documented as the
  slow-but-exact mode. Not for multiline records (quoted newlines) —
  those force the native reader with multiLine=true.

  Lines keep file order by a job-free key (split offset, position in
  the partition) whenever the header / skipFirstNLines cut is resolved
  driver-side inside a single local file's first split. A dense
  file-order line number (``operators.util.with_file_order_index``, one
  stats job) is built only for ``with_row_index``, for directories and
  non-local inputs, and for a cut the driver could not place. The parse
  is cached only by ``read_csv_with_errors``, whose data and errors
  frames read it twice; ``read_csv`` builds no errors frame and caches
  nothing, so a read that is consumed once runs the parse once.

Null semantics replicated exactly (reference row.ts:318-321, 300-317):
an UNQUOTED empty field is NULL; a QUOTED empty field ``""`` is the empty
string. The exact-path tokenizer distinguishes them directly; the native
path relies on Spark's nullValue=""/emptyValue defaults, which implement
the same pair (pinned by tests).

Header handling (reference parser.ts:505-552): first row is the schema;
``transform_header`` rewrites names; duplicates are renamed with _1, _2
suffixes ("rename") or rejected ("error"); hasHeader=False yields
positional col0..colN names.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bun_csv_spark import scratch
from bun_csv_spark.functions.coercion import _quoted, apply_dynamic_typing

ROW_IDX = "__row_idx"
PARSED_EXTRA = "__parsed_extra"
# the exact path's job-free line order: split offset, position in partition
_SPLIT, _POS = "__split", "__pos"

# error codes mirror the reference's structured errors (src/ts/errors.ts:14-37)
def _null_sentinel() -> str:
    """Per-read collision-resistant token used as the native reader's
    ``nullValue`` (see _read_native). Randomized per read so no real data
    value can collide with it (a fixed token would silently null a field
    whose genuine value happened to equal the token)."""
    import uuid

    return f"\x01NV{uuid.uuid4().hex}\x01"

ERR_TOO_FEW = "TooFewFields"
ERR_TOO_MANY = "TooManyFields"
ERR_MAX_RECORD_SIZE = "MaxRecordSize"


@dataclass
class CSVOptions:
    """Mirror of the reference CSVParserOptions (parser.ts:59-217)."""

    delimiter: str = ","  # "auto" -> sample-and-score detection
    quote_char: str = '"'
    has_header: bool = True
    # "auto" = reference default (parser.ts:78-79): BOM + content heuristic
    # via detect_encoding; any non-UTF-8 source is transcoded driver-side
    # before the distributed parse (the reference's whole-buffer iconv)
    encoding: str = "auto"
    comments: str | None = None  # comment-prefix char (parser.ts:72-73)
    skip_empty_rows: bool | str = True  # True | False | "greedy" (parser.ts:70-71)
    from_line: int | None = None  # 1-based record range (parser.ts:170-181)
    to_line: int | None = None
    preview: int | None = None  # row limit pushed to scan (parser.ts:74-75)
    skip_first_n_lines: int = 0  # raw-line skip (parser.ts:76-77)
    trim: bool | str = False  # True | "left" | "right" (parser.ts:154-169)
    # per-column inference (SURVEY §7.3.3); True = all columns, or a list
    # of names, or a predicate (name) -> bool (parser.ts:94 config shapes)
    dynamic_typing: "bool | list[str] | Callable[[str], bool]" = False
    transform_header: Callable[[str, int], str] | None = None
    duplicate_headers: str = "rename"  # "rename" (_1, _2 ...) | "error"
    relax_column_count: bool = False  # suppress both error kinds
    relax_column_count_less: bool = False
    relax_column_count_more: bool = False
    max_record_size: int | None = None  # bytes per raw line (parser.ts:130-135)
    skip_records_with_empty_values: bool = False  # parser.ts:125-129
    skip_records_with_error: bool = False  # parser.ts:119-124
    multiline: bool = False  # quoted embedded newlines -> native multiLine
    with_row_index: bool = False  # attach file-order __row_idx
    columns: list[str] | None = None  # explicit names when has_header=False
    # per-field rewrite: (Column, column_name) -> Column — the declarative
    # form of the reference's `transform` callback (parser.ts:95,
    # row.ts:276-281); runs JVM-side, unlike the reference's per-value JS
    transform: "Callable[[Column, str], Column] | None" = None
    # whole-record rewrite-or-drop hook (parser.ts:205-216 onRecord),
    # expressed as a DataFrame -> DataFrame transform (filter + withColumns)
    on_record: "Callable[[DataFrame], DataFrame] | None" = None
    # raw-text rewrite applied before parsing begins (parser.ts:203-209,
    # 350-361 — the reference applies it to EVERY input, not just URLs).
    # Driver-side by nature: the callback sees the whole text at once, so
    # it is bounded by driver memory — a fidelity feature for single-file
    # toolkit use, not a 100 TB path.
    before_first_chunk: "Callable[[str], str] | None" = None


class CSVReadError(ValueError):
    pass


# ---------------------------------------------------------------------------
# delimiter auto-detection (reference detect.zig:32-144 algorithm)
# ---------------------------------------------------------------------------

_DELIM_CANDIDATES = (",", "\t", "|", ";")


def detect_delimiter(
    sample: str, candidates: tuple[str, ...] = _DELIM_CANDIDATES, quote: str = '"'
) -> tuple[str, float]:
    """Score candidate delimiters over <=10 sample rows: average field
    count x consistency (detect.zig:32-144). Returns (delimiter, confidence)."""
    lines = [ln for ln in sample.splitlines() if ln.strip()][:10]
    if not lines:
        return ",", 0.0
    best, best_score = ",", -1.0
    for cand in candidates:
        counts = [len(_tokenize_line(ln, cand, quote)[0]) for ln in lines]
        avg = sum(counts) / len(counts)
        if avg <= 1.0:
            continue
        consistency = counts.count(counts[0]) / len(counts)
        score = avg * consistency
        if score > best_score:
            best, best_score = cand, score
    confidence = 0.0 if best_score < 0 else min(best_score / 10.0, 1.0)
    return best, confidence


# ---------------------------------------------------------------------------
# exact-path per-line tokenizer
# ---------------------------------------------------------------------------


def _tokenize_line(
    line: str, delim: str, quote: str
) -> tuple[list, list, list[str]]:
    """RFC-4180 single-line field split.

    Returns (values, quoted_flags, quote_error_codes) where an unquoted
    empty field is None and a quoted empty field is "" (the reference null
    rule, row.ts:300-321). Parsing is LENIENT — malformed quoting still
    yields a value — but emits structured codes (errors.ts:15-37):
    QuoteNotClosed (quoted field ran to end of line) and
    NonTrimableCharAfterClosingQuote (junk between closing quote and
    delimiter)."""
    fields: list = []
    quoted: list = []
    errs: list[str] = []
    i, n = 0, len(line)
    step = len(delim) or 1  # multi-character delimiters; "" still advances
    while True:
        if i < n and line[i] == quote:
            buf = []
            i += 1
            closed = False
            while i < n:
                c = line[i]
                if c == quote:
                    if i + 1 < n and line[i + 1] == quote:
                        buf.append(quote)
                        i += 2
                    else:
                        i += 1
                        closed = True
                        break
                else:
                    buf.append(c)
                    i += 1
            if not closed:
                errs.append("QuoteNotClosed")
            # anything between closing quote and delimiter is appended
            # (lenient, like the reference scanner) but flagged
            j = line.find(delim, i)
            trailing = line[i:] if j == -1 else line[i:j]
            if closed and trailing:
                errs.append("NonTrimableCharAfterClosingQuote")
            buf.append(trailing)
            fields.append("".join(buf))
            quoted.append(True)
            if j == -1:
                break
            i = j + step
        else:
            j = line.find(delim, i)
            raw = line[i:] if j == -1 else line[i:j]
            fields.append(raw if raw != "" else None)
            quoted.append(False)
            if j == -1:
                break
            i = j + step
    return fields, quoted, errs


# ---------------------------------------------------------------------------
# header utilities
# ---------------------------------------------------------------------------


def dedupe_headers(names: list[str], mode: str = "rename") -> list[str]:
    """Duplicate-header policy: "rename" appends _1, _2... per duplicate
    occurrence; "error" raises (parser.ts:196-202, 530-552)."""
    seen: dict[str, int] = {}
    out: list[str] = []
    for name in names:
        if name not in seen:
            seen[name] = 0
            out.append(name)
        else:
            if mode == "error":
                raise CSVReadError(f"duplicate header {name!r}")
            seen[name] += 1
            candidate = f"{name}_{seen[name]}"
            while candidate in seen:
                seen[name] += 1
                candidate = f"{name}_{seen[name]}"
            seen[candidate] = 0
            out.append(candidate)
    return out


def _apply_header_transforms(names: list[str], opts: CSVOptions) -> list[str]:
    if opts.transform_header is not None:
        names = [opts.transform_header(h, i) for i, h in enumerate(names)]
    return dedupe_headers(names, opts.duplicate_headers)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _needs_exact_path(opts: CSVOptions) -> bool:
    return any(
        (
            opts.from_line is not None,
            opts.to_line is not None,
            opts.skip_first_n_lines > 0,
            opts.max_record_size is not None,
            opts.relax_column_count,
            opts.relax_column_count_less,
            opts.relax_column_count_more,
            opts.skip_records_with_error,
            opts.with_row_index,
        )
    )


def read_csv(
    spark: SparkSession, path: str, opts: CSVOptions | None = None
) -> DataFrame:
    return _read_csv(spark, path, opts, with_errors=False)[0]


def read_csv_url(
    spark: SparkSession,
    url: str,
    opts: CSVOptions | None = None,
    request_headers: dict[str, str] | None = None,
    before_first_chunk: "Callable[[str], str] | None" = None,
) -> DataFrame:
    """URL source shim: download driver-side, parse distributed.

    Mirrors the reference's fetch-then-parse (parser.ts:447-500) including
    ``downloadRequestHeaders`` (parser.ts:105-118) and the
    ``beforeFirstChunk`` raw-text rewrite (parser.ts:203-209) — the latter
    is driver-side by nature (it sees the whole text before parsing)."""
    import urllib.request

    req = urllib.request.Request(url, headers=request_headers or {})
    with urllib.request.urlopen(req) as resp:  # noqa: S310 (explicit shim)
        raw = resp.read()
    encoding = (opts.encoding if opts else None) or "auto"
    text = raw.decode(_head_codec(raw, encoding), errors="replace")
    if before_first_chunk is not None:
        text = before_first_chunk(text)
    # the temp file is UTF-8 regardless of the source encoding — reset it
    # so the distributed read doesn't re-decode with the original codec
    opts = _replace(opts or CSVOptions(), encoding="UTF-8")
    return read_csv(spark, _utf8_temp_file(text, "bcsv_url_"), opts)


def _utf8_temp_file(text: str, prefix: str) -> str:
    """Write ``text`` to a new UTF-8 ``.csv`` file under the scratch root
    and return its path. Spark reads the path lazily, after the caller has
    returned, so the file cannot go when the call ends; it goes with the
    root when the process exits."""
    import tempfile

    fd, path = tempfile.mkstemp(suffix=".csv", prefix=prefix, dir=scratch.root())
    with open(fd, "w", encoding="utf-8") as fh:
        fh.write(text)
    return path


_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)


def reader_meta(
    spark: SparkSession, path: str, opts: CSVOptions | None = None
) -> dict:
    """Parse metadata — the reference's getMeta surface (parser.ts:557-567:
    delimiter, linebreak, fields, aborted, truncated).

    aborted is always False (batch reads run to completion); truncated
    reflects an applied preview limit."""
    opts = opts or CSVOptions()
    if opts.delimiter == "auto":
        sample = _head_bytes(spark, path, opts.encoding)
        delimiter, confidence = detect_delimiter(sample, quote=opts.quote_char)
    else:
        delimiter, confidence = opts.delimiter, 1.0
    head = spark.read.text(path).limit(2).collect()
    first = head[0]["value"] if head else ""
    fields, _, _ = _tokenize_line(first, delimiter, opts.quote_char)
    names = [f if f is not None else "" for f in fields]
    if opts.has_header:
        names = _apply_header_transforms(names, opts)
    else:
        names = opts.columns or [f"col{i}" for i in range(len(names))]
    return {
        "delimiter": delimiter,
        "delimiter_confidence": confidence,
        "linebreak": "\n",  # the text source normalizes CRLF
        "fields": names,
        "aborted": False,
        "truncated": opts.preview is not None,
    }


def detect_encoding(head: bytes) -> str | None:
    """Faithful port of the reference detectEncoding (iconv.zig:42-74,
    150-187): BOM first; then over a 1 KB window — more than 1/3 NUL
    bytes → UTF-16 (byte order from the first two bytes, LE default);
    any high bytes → UTF-8 when the window validates, else windows-1252
    (the reference returns .windows1252, NOT latin-1 — they differ on
    0x80-0x9F); pure ASCII → UTF-8. Truncation behavior is also the
    reference's: a multibyte char split at the window edge fails
    isValidUtf8 there too."""
    for bom, name in _BOMS:
        if head.startswith(bom):
            return name
    sample = head[:1024]
    if not sample:
        return None
    if sample.count(0) * 3 > len(sample):
        if len(sample) >= 2:
            if sample[0] != 0 and sample[1] == 0:
                return "utf-16-le"
            if sample[0] == 0 and sample[1] != 0:
                return "utf-16-be"
        return "utf-16-le"
    if any(b > 127 for b in sample):
        try:
            sample.decode("utf-8")
            return "utf-8"
        except UnicodeDecodeError:
            return "cp1252"
    return "utf-8"


#: decode codecs that CONSUME a leading BOM (the reference strips bom_len
#: before transcoding — parser.zig:135-137, iconv.zig BOM.detect; Python's
#: endian-specific 'utf-16-le' etc. would keep U+FEFF in the first cell)
_BOM_DECODE = {
    "utf-8-sig": "utf-8-sig",
    "utf-16-le": "utf-16",
    "utf-16-be": "utf-16",
    "utf-32-le": "utf-32",
    "utf-32-be": "utf-32",
}


def _head_codec(raw: bytes, encoding: str) -> str:
    """Codec for decoding driver-side probes.

    Precedence mirrors the reference (parser.zig:133-141): BOM/content
    detection runs only when the configured encoding is the auto/UTF-8
    default; an explicit other encoding bypasses detection entirely (a
    cp1252 file legitimately starting with 0xFF 0xFE stays cp1252). When a
    BOM is detected the returned codec is one that consumes it."""
    enc_norm = (encoding or "auto").replace("_", "-").lower()
    if enc_norm != "auto" and enc_norm not in _UTF8_NAMES:
        return encoding
    for bom, name in _BOMS:
        if raw.startswith(bom):
            return _BOM_DECODE[name]
    if enc_norm != "auto":
        return encoding
    return detect_encoding(raw) or "utf-8"


_UTF8_NAMES = ("utf-8", "utf8", "ascii", "us-ascii", "utf-8-sig")

#: JS ``String.trim()`` whitespace — ECMA-262 WhiteSpace + LineTerminator
#: (parser.ts:70-71 blanks rows via trim). Java's bare ``\s`` is ASCII-only
#: ([ \t\n\x0B\f\r]), so an explicit class keeps the distributed filter,
#: the driver probe, and the reference in exact agreement on e.g.
#: NBSP-only or BOM-only lines.
_JS_WS_CHARS = (
    "\t\n\x0b\x0c\r \u00a0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000\ufeff"
)
_JS_BLANK_RE = (
    "^[\t\n\x0b\x0c\r \u00a0\u1680"
    "\u2000-\u200a\u2028\u2029\u202f\u205f\u3000\ufeff]*$"
)


def _resolve_encoding(path: str, opts: CSVOptions) -> tuple[str, CSVOptions]:
    """Reference-parity encoding resolution (parser.ts:139,213 call
    detectEncoding on every mapped buffer; iconv.zig transcodes to UTF-8).

    Local single files: detect (or honor an explicit codec) and, when the
    source is not plain UTF-8, decode the WHOLE file driver-side and
    rewrite it as a UTF-8 temp file — the same single-node whole-buffer
    transcode the reference performs. Bounded by driver memory by design
    (a fidelity feature for toolkit use; at 100 TB store UTF-8 — the
    distributed readers then never touch this path).

    Remote/compressed/directory inputs: no transcode; an explicit
    encoding is passed through to Spark, auto maps to UTF-8."""
    enc = (opts.encoding or "auto").strip()
    p = _local_file_path(path)
    if p is None:
        if enc.lower() == "auto":
            return path, _replace(opts, encoding="UTF-8")
        return path, opts
    with open(p, "rb") as fh:
        head = fh.read(8192)
    codec = _head_codec(head, enc)
    if codec.replace("_", "-").lower() in _UTF8_NAMES and not head.startswith(
        _BOMS[0][0]
    ):
        return path, _replace(opts, encoding="UTF-8")
    with open(p, "rb") as fh:
        raw = fh.read()
    text = raw.decode(codec, errors="replace")
    return _utf8_temp_file(text, "bcsv_enc_"), _replace(opts, encoding="UTF-8")


def read_csv_with_errors(
    spark: SparkSession, path: str, opts: CSVOptions | None = None
) -> tuple[DataFrame, DataFrame | None]:
    """Read a CSV; returns (data, errors_or_None).

    errors is a DataFrame(row bigint, code string, message string) on the
    exact path, None on the native path (native drops malformed handling
    into Spark's PERMISSIVE mode)."""
    return _read_csv(spark, path, opts, with_errors=True)


def _read_csv(
    spark: SparkSession, path: str, opts: CSVOptions | None, with_errors: bool
) -> tuple[DataFrame, DataFrame | None]:
    """``read_csv_with_errors``; with ``with_errors=False`` the exact path
    builds no errors frame and does not cache its parse (``read_csv``
    throws the errors away)."""
    opts = opts or CSVOptions()

    if opts.before_first_chunk is not None:
        path = _apply_before_first_chunk(path, opts)
        # the rewritten temp file is UTF-8 whatever the source encoding was
        opts = _replace(opts, before_first_chunk=None, encoding="UTF-8")

    # reference parity: encoding defaults to auto-detect, and non-UTF-8
    # sources are transcoded before the distributed parse
    path, opts = _resolve_encoding(path, opts)

    if opts.delimiter == "auto":
        sample = _head_bytes(spark, path, opts.encoding)
        opts = _replace(opts, delimiter=detect_delimiter(sample, quote=opts.quote_char)[0])

    if opts.multiline and _needs_exact_path(opts):
        raise CSVReadError(
            "multiline quoted records require the native reader; "
            "line-identity options (fromLine/skipFirstNLines/...) are "
            "incompatible with it"
        )

    if _needs_exact_path(opts):
        return _read_exact(spark, path, opts, with_errors)
    return _read_native(spark, path, opts), None


def _replace(opts: CSVOptions, **kw) -> CSVOptions:
    import dataclasses

    return dataclasses.replace(opts, **kw)


def _apply_before_first_chunk(path: str, opts: CSVOptions) -> str:
    """Run the beforeFirstChunk raw-text rewrite over a local file and
    return the rewritten temp-file path (parser.ts:203-209, 350-361)."""
    with open(path, "rb") as fh:
        raw = fh.read()
    text = raw.decode(_head_codec(raw, opts.encoding), errors="replace")
    return _utf8_temp_file(opts.before_first_chunk(text), "bcsv_bfc_")


def _head_bytes(spark: SparkSession, path: str, encoding: str, n: int = 8192) -> str:
    """First ~8KB for delimiter sniffing. Local paths are read directly on
    the driver (no Spark job — the probe job was ~20% of a small-file
    read's wall time); non-local paths fall back to the text source."""
    head = _local_head_text(path, encoding, n)
    if head is not None:
        return head
    rows = spark.read.text(path).limit(12).collect()
    return "\n".join(r.value for r in rows)[:n]


_REMOTE_SCHEMES = ("hdfs:", "s3:", "s3a:", "abfs", "gs:")
_COMPRESSED = (".gz", ".bz2", ".zst", ".lz4", ".snappy", ".deflate")


def _local_path(path: str) -> str | None:
    """``path`` with a ``file:`` scheme stripped; None for a remote one."""
    if path.startswith(_REMOTE_SCHEMES):
        return None
    return "/" + path[5:].lstrip("/") if path.startswith("file:") else path


def _local_file_path(path: str) -> str | None:
    """Filesystem path when ``path`` is a local single uncompressed file;
    None for remote schemes, directories, and compressed inputs."""
    import os

    p = _local_path(path)
    if p is None or p.endswith(_COMPRESSED):
        return None
    return p if os.path.isfile(p) else None


def _local_head_text(path: str, encoding: str, n: int = 65536) -> str | None:
    """First ~n bytes of a local file (or the first part file of a local
    directory), decoded; None when the path isn't locally readable (then
    the caller probes through Spark instead)."""
    raw = _local_head_bytes(path, n)
    if raw is None:
        return None
    return raw.decode(_head_codec(raw, encoding), errors="replace")


def _local_head_bytes(path: str, n: int) -> bytes | None:
    """The raw bytes behind ``_local_head_text``."""
    import os

    p = _local_path(path)
    if p is None:
        return None
    try:
        if os.path.isdir(p):
            parts = sorted(
                x for x in os.listdir(p) if not x.startswith(("_", "."))
            )
            if not parts:
                return None
            p = os.path.join(p, parts[0])
        if p.endswith(_COMPRESSED):
            # compressed inputs: let Spark's text source decompress
            return None
        with open(p, "rb") as fh:
            return fh.read(n)
    except OSError:
        return None


def _post_read_column_ops(df: DataFrame, opts: CSVOptions) -> DataFrame:
    cols = [c for c in df.columns if c not in (ROW_IDX, PARSED_EXTRA)]
    if opts.trim:
        fn = {True: F.trim, "left": F.ltrim, "right": F.rtrim}[opts.trim]
        df = df.withColumns({c: fn(F.col(c)) for c in cols})
    if opts.skip_records_with_empty_values:
        non_empty = [
            (F.col(c).isNotNull() & (F.col(c) != "")) for c in cols
        ]
        pred = non_empty[0]
        for p in non_empty[1:]:
            pred = pred | p
        df = df.filter(pred)
    if opts.transform is not None:
        df = df.withColumns({c: opts.transform(F.col(c), c) for c in cols})
    if opts.on_record is not None:
        df = opts.on_record(df)
    if opts.dynamic_typing:
        selector = None if opts.dynamic_typing is True else opts.dynamic_typing
        df = apply_dynamic_typing(df, selector)
    return df


# -- native path -------------------------------------------------------------


def _read_native(spark: SparkSession, path: str, opts: CSVOptions) -> DataFrame:
    # Pre-read the header line and hand the reader an explicit all-string
    # schema: without it Spark runs a schema/header discovery pass over the
    # files on EVERY action (~2x scan cost measured at sf0.1).
    # Spark's CSV reader skips comment and blank lines before the header,
    # so the probe must too (a leading comment is not the header). Local
    # paths probe driver-side with zero Spark jobs.
    first_line = None
    local = _local_head_text(path, opts.encoding)
    if local is not None:
        for ln in local.splitlines():
            if ln == "" or (opts.comments and ln.startswith(opts.comments)):
                continue
            first_line = ln
            break
    else:
        probe = spark.read.text(path)
        if opts.comments:
            probe = probe.filter(~F.col("value").startswith(opts.comments))
        head = probe.filter(F.col("value") != "").limit(1).collect()
        first_line = head[0]["value"] if head else None
    if first_line is None:
        raise CSVReadError(f"empty CSV source {path!r}")
    first_fields, _, _ = _tokenize_line(first_line, opts.delimiter, opts.quote_char)
    n_cols = len(first_fields)
    schema = T.StructType(
        [T.StructField(f"_c{i}", T.StringType()) for i in range(n_cols)]
    )

    reader = (
        spark.read.schema(schema)
        .option("sep", opts.delimiter)
        .option("quote", opts.quote_char)
        .option("escape", opts.quote_char)  # RFC-4180 "" escaping
        .option("header", str(opts.has_header).lower())
        .option("encoding", opts.encoding)
        .option("multiLine", str(opts.multiline).lower())
        .option("mode", "PERMISSIVE")
        # Reference null rule: unquoted empty -> NULL, quoted empty -> "".
        # With Spark defaults BOTH come out null (nullValue="" swallows the
        # quoted empty too). Inverting the sentinel fixes it with ZERO
        # post-read rewrite: nullValue is a token that never occurs, so
        # nothing is nulled by comparison; an unquoted empty is null at
        # the univocity layer already, and emptyValue="" lets a quoted
        # empty through as the empty string. (The earlier scheme —
        # emptyValue=token + a per-column rewrite projection — cost ~25%
        # scan throughput; this one is option-only.)
        .option("nullValue", _null_sentinel())
        .option("emptyValue", "")
    )
    if opts.comments:
        reader = reader.option("comment", opts.comments)
    if not opts.skip_empty_rows:
        # Spark always skips fully-empty lines; reference parity for
        # skipEmptyRows=False is not representable natively. Documented
        # divergence; exact path preserves them as all-null rows.
        pass
    df = reader.csv(path)

    if opts.has_header:
        names = [h if h is not None else "" for h in first_fields]
    else:
        names = opts.columns or [f"col{i}" for i in range(n_cols)]
    names = _apply_header_transforms(names, opts)
    df = df.toDF(*names)

    if opts.skip_empty_rows == "greedy":
        # JS String.trim semantics (all whitespace incl. NBSP/BOM,
        # parser.ts:70-71) — not F.trim (ASCII space only) and not Java \s
        # (ASCII class); _JS_BLANK_RE is the exact ECMA-262 set
        non_blank = [
            (F.col(c).isNotNull() & ~F.col(c).rlike(_JS_BLANK_RE)) for c in names
        ]
        pred = non_blank[0]
        for p in non_blank[1:]:
            pred = pred | p
        df = df.filter(pred)
    if opts.preview:
        df = df.limit(opts.preview)
    return _post_read_column_ops(df, opts)


# -- exact path --------------------------------------------------------------


#: where Spark's text source (Hadoop's LineReader) ends a line
_LINE_BREAK = re.compile(rb"\r\n|\r|\n")


def _first_surviving_line(
    path: str, opts: CSVOptions
) -> tuple[str | None, int, int]:
    """Driver-side twin of the exact path's line filters: the first line
    that survives skipFirstNLines, comment, and empty-row skipping, its
    raw 0-based index and the byte offset where it starts — resolved from
    the local head chunk when possible. Lines break where Spark's text
    source breaks them (``\\n``, ``\\r\\n``, ``\\r``). Returns
    (None, -1, -1) when the path isn't local or no qualifying line sits
    inside the chunk (caller probes via Spark)."""
    n = 65536
    raw = _local_head_bytes(path, n)
    if raw is None:
        return None, -1, -1
    codec = _head_codec(raw, opts.encoding)
    breaks = list(_LINE_BREAK.finditer(raw))
    starts = [0] + [m.end() for m in breaks]
    ends = [m.start() for m in breaks]
    # a whole file's last line may lack a line break; in a cut chunk only
    # the lines ended by one are whole
    if len(raw) < n and starts[-1] < len(raw):
        ends.append(len(raw))
    for idx, (lo, hi) in enumerate(zip(starts, ends)):
        ln = raw[lo:hi].decode(codec, errors="replace")
        if idx < opts.skip_first_n_lines:
            continue
        if opts.comments and ln.startswith(opts.comments):
            continue
        if opts.skip_empty_rows and (
            # must agree exactly with the distributed _JS_BLANK_RE filter —
            # both use the ECMA-262 trim set (incl. \xa0 and \ufeff)
            ln.strip(_JS_WS_CHARS) == ""
            if opts.skip_empty_rows == "greedy"
            else ln == ""
        ):
            continue
        return ln, idx, lo
    return None, -1, -1


def _first_split_bytes(spark: SparkSession) -> int:
    """A floor on the length of a file scan's first split. Spark cuts
    splits of ``min(maxPartitionBytes, max(openCostInBytes, bytes per
    core))``, so a line that starts below this offset is read by the
    split at offset 0."""
    conf = spark._jsparkSession.sessionState().conf()
    return min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes())


def _read_exact(
    spark: SparkSession, path: str, opts: CSVOptions, with_errors: bool
) -> tuple[DataFrame, DataFrame | None]:
    import pandas as pd

    from bun_csv_spark.operators.util import with_file_order_index

    # header row = first surviving line. Local files resolve it driver-side
    # from the head chunk (no Spark probe jobs); non-local or head-exhausted
    # inputs fall back to a probe.
    probe_line, probe_idx, probe_off = _first_surviving_line(path, opts)
    cut = opts.has_header or opts.skip_first_n_lines > 0
    # A dense file-order line number costs a stats job (with_file_order_index).
    # It is built only when the output carries it, or when a header or
    # skipFirstNLines cut is not known to fall in a single local file's
    # first split. Otherwise lines order by a job-free key: the split's
    # file offset, then the line's position inside its partition (the low
    # 33 bits of monotonically_increasing_id). A single file's first split
    # leads its partition, so there a line's position is its raw line
    # index, which is what the driver-side probe resolved.
    dense = (
        opts.with_row_index
        or _local_file_path(path) is None
        or (cut and (probe_line is None or probe_off >= _first_split_bytes(spark)))
    )
    text = spark.read.text(path)
    if dense:
        # partition order comes from the file source's (_metadata.file_path,
        # file_block_start) — path first so multi-file directories order
        # by name, offset second so splits of one file order by position.
        # A multi-file directory is indexed as one concatenated stream;
        # only the FIRST file's first line is treated as the header
        # (per-part headers belong to the native path, which skips them
        # per file).
        lines = text.select(
            F.col("value").alias("line"),
            F.struct(
                F.col("_metadata.file_path").alias("p"),
                F.col("_metadata.file_block_start").alias("s"),
            ).alias("__blk"),
        )
        df = with_file_order_index(lines, ROW_IDX, order_col="__blk").drop("__blk")
        order = [ROW_IDX]
        if opts.skip_first_n_lines:
            df = df.filter(F.col(ROW_IDX) >= opts.skip_first_n_lines)
    else:
        df = text.select(
            F.col("value").alias("line"),
            F.col("_metadata.file_block_start").alias(_SPLIT),
            F.expr(f"monotonically_increasing_id() & {(1 << 33) - 1}").alias(_POS),
        )
        order = [_SPLIT, _POS]
        if cut:
            # the lines before the first surviving one (and the header)
            last_cut = probe_idx if opts.has_header else probe_idx - 1
            df = df.filter((F.col(_SPLIT) > 0) | (F.col(_POS) > last_cut))
    if opts.comments:
        df = df.filter(~F.col("line").startswith(opts.comments))
    if opts.skip_empty_rows:
        blank = F.col("line") == ""
        if opts.skip_empty_rows == "greedy":
            # JS-trim semantics; must match _first_surviving_line's probe
            blank = F.col("line").rlike(_JS_BLANK_RE)
        df = df.filter(~blank)

    if probe_line is None:
        probed = df.orderBy(*order).limit(1).collect()
        if probed:
            probe_line = probed[0]["line"]
            if dense:
                probe_idx = probed[0][ROW_IDX]
    if opts.has_header:
        if probe_line is None:
            raise CSVReadError(f"no header row found in {path}")
        raw_names, _, _ = _tokenize_line(probe_line, opts.delimiter, opts.quote_char)
        names = [h if h is not None else "" for h in raw_names]
        if dense:
            df = df.filter(F.col(ROW_IDX) > probe_idx)
    else:
        width = (
            len(_tokenize_line(probe_line, opts.delimiter, opts.quote_char)[0])
            if probe_line is not None
            else 0
        )
        names = opts.columns or [f"col{i}" for i in range(width)]
    names = _apply_header_transforms(names, opts)
    n_cols = len(names)

    delim, quote = opts.delimiter, opts.quote_char
    max_size = opts.max_record_size
    ranged = opts.from_line is not None or opts.to_line is not None or opts.preview
    # the parse carries the order key only for what reads it: the record
    # windows, the errors frame's row numbers, the row-index column
    keep = order if (ranged or with_errors or opts.with_row_index) else []
    df = df.select("line", *keep)

    out_schema = T.StructType(
        [T.StructField(c, T.LongType()) for c in keep]
        + [
            T.StructField("fields", T.ArrayType(T.StringType())),
            T.StructField("n_fields", T.IntegerType()),
            T.StructField("err_codes", T.ArrayType(T.StringType())),
        ]
    )

    def parse_batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            fields_col, nf_col, err_col = [], [], []
            for line in pdf["line"]:
                if max_size is not None and len(line.encode("utf-8")) > max_size:
                    errs = [ERR_MAX_RECORD_SIZE]
                    vals: list = []
                else:
                    vals, _, errs = _tokenize_line(line, delim, quote)
                    if len(vals) < n_cols:
                        errs = errs + [ERR_TOO_FEW]
                    elif len(vals) > n_cols:
                        errs = errs + [ERR_TOO_MANY]
                fields_col.append(vals)
                nf_col.append(len(vals))
                err_col.append(errs)
            yield pd.DataFrame(
                {
                    **{c: pdf[c] for c in keep},
                    "fields": fields_col,
                    "n_fields": nf_col,
                    "err_codes": err_col,
                }
            )

    parsed = df.mapInPandas(parse_batches, schema=out_schema)

    # Record numbering for fromLine/toLine. The reference counts 1-based
    # FILE lines with the header as line 1 (parser.ts:1504-1513:
    # fromRecord = fromLine - headerOffset - 1), so with a header every
    # bound shifts down one record: fromLine=3 starts at the 2nd data
    # record. Clamped at record 1.
    # Scale note: the row_number window is global (single task) — it only
    # engages when a line-range option is set, which is inherently an
    # ordered-file operation (exact/fidelity path, not the 100 TB path).
    from pyspark.sql import Window

    if ranged:
        hdr_off = 1 if opts.has_header else 0
        parsed = parsed.withColumn("__rec", F.row_number().over(Window.orderBy(*order)))
        start = 1
        if opts.from_line is not None:
            start = max(1, opts.from_line - hdr_off)
            parsed = parsed.filter(F.col("__rec") >= start)
        if opts.to_line is not None:
            parsed = parsed.filter(F.col("__rec") <= opts.to_line - hdr_off)
        if opts.preview:
            parsed = parsed.filter(F.col("__rec") < start + opts.preview)
        parsed = parsed.drop("__rec")

    errors = None
    if with_errors:
        # data and errors read one parse
        parsed = parsed.cache()
        errors = _error_records(parsed, order, opts, n_cols)

    # Erroring rows still yield data (short rows pad with null, long rows
    # overflow into __parsed_extra — row.ts:508-523); MaxRecordSize rows
    # never do. skipRecordsWithError drops every erroring row.
    if opts.skip_records_with_error:
        data = parsed.filter(F.size("err_codes") == 0)
    else:
        data = parsed.filter(~F.array_contains("err_codes", ERR_MAX_RECORD_SIZE))

    cols = [f"get(fields, {i}) AS {_quoted(names[i])}" for i in range(n_cols)]
    # overflow fields -> __parsed_extra (row.ts:517-523)
    extra = (
        f"CASE WHEN n_fields > {n_cols}"
        f" THEN slice(fields, {n_cols + 1}, n_fields - {n_cols}) END AS {PARSED_EXTRA}"
    )
    index = [ROW_IDX] if opts.with_row_index else []
    data = data.selectExpr(*index, *cols, extra)

    data = _post_read_column_ops(data, opts)
    return data, errors


def _error_records(
    parsed: DataFrame, order: list[str], opts: CSVOptions, n_cols: int
) -> DataFrame:
    """Error records, minus relaxed kinds (parser.ts:137-153, 1270-1302);
    one output row per (line, code) with the reference's type category."""
    from pyspark.sql import Window

    from bun_csv_spark.errors import ERROR_TYPES

    relaxed = set()
    if opts.relax_column_count or opts.relax_column_count_less:
        relaxed.add(ERR_TOO_FEW)
    if opts.relax_column_count or opts.relax_column_count_more:
        relaxed.add(ERR_TOO_MANY)
    # The reference's CSVError.row is the 0-based DATA-row index — it does
    # not count the header or skipped/comment/blank lines (errors.ts:49) —
    # so renumber the surviving records before exploding. The global window
    # is lazy: it executes only when the errors frame is consumed.
    exploded = parsed.withColumn(
        "__rec0", F.row_number().over(Window.orderBy(*order)) - 1
    ).select(F.col("__rec0"), "n_fields", F.explode("err_codes").alias("code"))
    if relaxed:
        exploded = exploded.filter(~F.col("code").isin(*relaxed))
    type_map = F.create_map(
        *[F.lit(x) for kv in ERROR_TYPES.items() for x in kv]
    )
    message = (
        F.when(
            F.col("code").isin(ERR_TOO_FEW, ERR_TOO_MANY),
            F.concat(
                F.lit(f"expected {n_cols} fields, got "), F.col("n_fields")
            ),
        )
        .when(F.col("code") == ERR_MAX_RECORD_SIZE,
              F.lit(f"record exceeds {opts.max_record_size} bytes"))
        .otherwise(F.concat(F.lit("malformed quoting: "), F.col("code")))
    )
    return exploded.select(
        F.col("__rec0").alias("row"),
        type_map[F.col("code")].alias("type"),
        "code",
        message.alias("message"),
    )
