"""bcsv — the reference's 11-command CLI on Spark.

Reference: src/cli/index.ts:53-64 (command list), command implementations
under src/cli/commands/. The CLI is the driver process; every command is a
DataFrame pipeline, so the same commands scale from a laptop file to a
cluster path unchanged.

    python -m bun_csv_spark.cli <command> [options] <file>

Commands: count, head, tail, select, filter, sort, convert, validate,
stats, benchmark, completions — plus `lint`, a Spark-native extension
(the reference has no planner surface): it runs plans.lint.lint_plan
over a query's physical plan and reports scale antipatterns without
executing anything.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from pyspark.sql import DataFrame, functions as F

from bun_csv_spark.cli.config import merge_config
from bun_csv_spark.cli.renderers import print_summary, render
from bun_csv_spark.operators.frame import ROW_IDX, TurboFrame
from bun_csv_spark.operators.stats import column_stats
from bun_csv_spark.plans.expr import ExprError, compile_filter
from bun_csv_spark.sources.csv_reader import (
    CSVOptions,
    _utf8_temp_file,
    read_csv,
    read_csv_with_errors,
)
from bun_csv_spark.sources.csv_writer import convert as convert_sink
from bun_csv_spark.sources.csv_writer import unparse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="bcsv", description="CSV analytics on Spark (reference-parity CLI)"
    )
    p.add_argument("-d", "--delimiter", default=None, help="field delimiter (default: auto)")
    p.add_argument("-e", "--encoding", default=None)
    p.add_argument("--no-header", action="store_true")
    p.add_argument("-f", "--format", choices=["auto", "table", "csv", "json"], default=None)
    p.add_argument("--preview", type=int, default=None, help="limit parsed rows")
    p.add_argument("--skip-first-n-lines", type=int, default=0)
    p.add_argument("--comments", default=None, help="comment prefix char")
    p.add_argument("--dynamic-typing", action="store_true")

    sub = p.add_subparsers(dest="command", required=True)

    def cmd(name, *positionals, help=None):
        """Command positionals come BEFORE the file argument, matching the
        reference usage `turbocsv select "name,email" file.csv`."""
        sp = sub.add_parser(name, help=help)
        for pos_name, pos_help in positionals:
            sp.add_argument(pos_name, help=pos_help)
        sp.add_argument("file", help="CSV path, or - for stdin")
        return sp

    cmd("count", help="Count rows")
    sp = cmd("head", help="First N rows")
    sp.add_argument("-n", type=int, default=10)
    sp = cmd("tail", help="Last N rows")
    sp.add_argument("-n", type=int, default=10)
    cmd(
        "select",
        ("columns", "comma-separated names or 0-based indices"),
        help="Select columns",
    )
    cmd(
        "filter",
        ("expression", 'e.g. "age > 21 && city == NYC"'),
        help="Filter rows by expression",
    )
    sp = cmd("sort", ("column", "column to sort by"), help="Sort by column")
    sp.add_argument("--desc", action="store_true")
    sp = cmd("convert", help="Convert format")
    sp.add_argument("--to", required=True, choices=["csv", "tsv", "json", "jsonl"])
    sp.add_argument("-o", "--output", default=None, help="output dir (default: stdout)")
    cmd("validate", help="Check CSV validity")
    cmd("stats", help="Per-column statistics")
    sp = cmd("benchmark", help="Measure parse throughput")
    sp.add_argument("--runs", type=int, default=3)
    sp = cmd(
        "lint",
        help="Lint a query's physical plan for scale antipatterns "
        "(no execution). FILE is a CSV/parquet path (lint the scan, "
        "optionally after --select/--filter/--sort), or a .py pipeline "
        "file defining build(spark) -> DataFrame (or a top-level df).",
    )
    sp.add_argument("--select", default=None, help="comma-separated columns to project first")
    sp.add_argument("--filter", dest="filter_expr", default=None, help="filter expression (same grammar as the filter command)")
    sp.add_argument("--sort", dest="sort_col", default=None, help="column to sort by")
    sp.add_argument("--desc", action="store_true")
    sp.add_argument("--limit", type=int, default=None, help="limit(k) after the sort (top-k shape)")
    sp.add_argument("--explain", action="store_true", help="also print the formatted physical plan")
    sp.add_argument(
        "--suggest", action="store_true",
        help="attach the measured fix recipe (with its SCALE.md "
        "pointer) to each finding; default off so CI output stays "
        "stable",
    )
    sp.add_argument(
        "--budget", type=float, default=None, metavar="MB",
        help="broadcast fan-out budget in MB for the info-tier advisory "
        "(default 100; 0 disables)",
    )
    sp.add_argument("--fact-tables", default=None, help="comma-separated table names that scale with the data (default: the test schema)")
    sp.add_argument("--dim-tables", default=None, help="comma-separated small-dimension table names")
    sub.add_parser("completions", help="Shell completion script").add_argument(
        "shell", choices=["bash", "zsh"], nargs="?", default="bash"
    )
    return p


def _resolve_input(path: str) -> str:
    if path == "-":
        # stdin -> temp file (cli/index.ts:294-299)
        return _utf8_temp_file(sys.stdin.read(), "bcsv_stdin_")
    return path


def _opts_from_args(args, cfg) -> CSVOptions:
    return CSVOptions(
        delimiter=cfg["delimiter"],
        encoding=cfg["encoding"],
        has_header=cfg["has_header"],
        preview=args.preview,
        skip_first_n_lines=args.skip_first_n_lines,
        comments=args.comments,
        dynamic_typing=args.dynamic_typing,
    )


def _rows(df: DataFrame, limit: int | None = 1000) -> list[dict]:
    if limit is not None:
        df = df.limit(limit)
    return [r.asDict() for r in df.collect()]


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)

    if args.command == "completions":
        print(_completions(args.shell))
        return 0

    cfg = merge_config(
        {
            "delimiter": args.delimiter,
            "encoding": args.encoding,
            "has_header": False if args.no_header else None,
            "format": args.format,
        }
    )
    fmt = cfg["format"]

    if spark is None:
        from bun_csv_spark.session import get_spark

        spark = get_spark("bcsv-cli")
        spark.sparkContext.setLogLevel("ERROR")

    path = _resolve_input(args.file)
    file_size = os.path.getsize(path) if os.path.isfile(path) else None
    t0 = time.time()
    opts = _opts_from_args(args, cfg)

    if args.command == "count":
        n = read_csv(spark, path, opts).count()
        print(n)
        print_summary(n, time.time() - t0, file_size)
        return 0

    if args.command == "head":
        import dataclasses

        opts = dataclasses.replace(opts, preview=args.n)
        df = read_csv(spark, path, opts)
        rows = _rows(df, args.n)
        print(render(rows, fmt))
        print_summary(len(rows), time.time() - t0, file_size)
        return 0

    if args.command == "tail":
        import dataclasses

        opts = dataclasses.replace(opts, with_row_index=True)
        df = read_csv(spark, path, opts)
        rows = [r.asDict() for r in df.orderBy(F.col(ROW_IDX)).tail(args.n)]
        for r in rows:
            r.pop(ROW_IDX, None)
        print(render(rows, fmt))
        print_summary(len(rows), time.time() - t0, file_size)
        return 0

    if args.command == "select":
        df = read_csv(spark, path, opts)
        resolved = _resolve_columns(df, args.columns)
        if resolved is None:
            return 2
        out = TurboFrame(df).select(*resolved).df
        rows = _rows(out)
        print(render(rows, fmt))
        print_summary(len(rows), time.time() - t0, file_size)
        return 0

    if args.command == "filter":
        df = read_csv(spark, path, opts)
        try:
            cond = compile_filter(args.expression)
        except ExprError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        out = df.filter(cond)
        rows = _rows(out)
        print(render(rows, fmt))
        print_summary(len(rows), time.time() - t0, file_size)
        return 0

    if args.command == "sort":
        df = read_csv(spark, path, opts)
        if args.column not in df.columns:
            print(f"error: unknown column {args.column!r}", file=sys.stderr)
            return 2
        out = TurboFrame(df).sort(args.column, descending=args.desc).df
        rows = _rows(out)
        print(render(rows, fmt))
        print_summary(len(rows), time.time() - t0, file_size)
        return 0

    if args.command == "convert":
        df = read_csv(spark, path, opts)
        if args.output:
            convert_sink(df, args.to, args.output)
            print(f"wrote {args.output}", file=sys.stderr)
        else:
            rows = [r.asDict() for r in df.collect()]
            if args.to in ("json", "jsonl"):
                import json as _json

                if args.to == "json":
                    print(_json.dumps(rows, default=str, indent=2))
                else:
                    for r in rows:
                        print(_json.dumps(r, default=str))
            else:
                delim = "\t" if args.to == "tsv" else ","
                print(unparse(rows, delimiter=delim, newline="\n").rstrip("\n"))
        print_summary(df.count(), time.time() - t0, file_size)
        return 0

    if args.command == "validate":
        import dataclasses

        opts = dataclasses.replace(opts, with_row_index=True)
        df, errors = read_csv_with_errors(spark, path, opts)
        n = df.count()
        errs = errors.orderBy("row").collect() if errors is not None else []
        if not errs:
            print("OK: CSV is valid")
        else:
            print(f"INVALID: {len(errs)} issue(s):")
            for e in errs[:10]:
                print(f"  Row {e.row}: [{e.code}] {e.message}")
            if len(errs) > 10:
                print(f"  ... and {len(errs) - 10} more")
        print(f"\nRows: {n:,}")
        print(f"Columns: {len([c for c in df.columns if not c.startswith('__')])}")
        print(f"Headers: {', '.join(c for c in df.columns if not c.startswith('__'))}")
        return 0 if not errs else 1

    if args.command == "stats":
        df = read_csv(spark, path, opts)
        st = column_stats(df)
        rows = [r.asDict() for r in st.collect()]
        print(render(rows, fmt if fmt != "auto" else "table"))
        return 0

    if args.command == "lint":
        return _run_lint(spark, path, args, opts, fmt)

    if args.command == "benchmark":
        # warmup + N timed full-scan parses, avg/best/worst MB/s
        # (reference cli/commands/benchmark.ts:26-141)
        read_csv(spark, path, opts).count()
        times = []
        for _ in range(args.runs):
            t = time.time()
            read_csv(spark, path, opts).count()
            times.append(time.time() - t)
        mbs = [(file_size or 0) / 1e6 / t for t in times]
        print(
            f"runs={args.runs} avg={sum(mbs)/len(mbs):.1f} MB/s "
            f"best={max(mbs):.1f} MB/s worst={min(mbs):.1f} MB/s"
        )
        return 0

    raise AssertionError(f"unhandled command {args.command}")


def _resolve_columns(df: DataFrame, columns: str) -> list[str] | None:
    """Resolve a comma-separated name-or-0-based-index column spec
    against df (select.ts:35-43) — shared by the select command and
    `lint --select`. None (with the error printed) on unknown names."""
    resolved = []
    for s in (c.strip() for c in columns.split(",")):
        # 0-based indices only (select.ts contract) — a negative spec
        # falls through to the unknown-column error instead of
        # wrapping around (or crashing out of range)
        if s.isdigit() and int(s) < len(df.columns):
            resolved.append(df.columns[int(s)])
        elif s in df.columns:
            resolved.append(s)
        else:
            print(
                f"error: unknown column {s!r}; available: {', '.join(df.columns)}",
                file=sys.stderr,
            )
            return None
    return resolved


def _resolve_delimiter(path: str, delimiter: str | None) -> str:
    """An explicit delimiter passes through; None/"auto" detects from
    the first DATA leaf under the layout, using the same scorer
    read_csv uses, defaulting to comma when nothing is readable.

    Every extension the CSV branch routes is sampled (.csv/.tsv/.txt —
    a .tsv layout previously got comma because only *.csv was sampled;
    r17 ADVICE fix), but .csv/.tsv leaves are PREFERRED over .txt: a
    stray prose notes.txt at the layout root must not shadow the real
    part files below it (the same artifact _looks_like_parquet's
    full-listing rule guards against)."""
    if delimiter and delimiter != "auto":
        return delimiter
    from bun_csv_spark.sources.csv_reader import detect_delimiter

    def _sample(fpath: str) -> str | None:
        try:
            with open(fpath, errors="replace") as fh:
                return detect_delimiter(fh.read(16384))[0]
        except OSError:
            return None

    txt_fallback: str | None = None
    for dp, dns, fns in os.walk(path):
        dns.sort()
        for f in sorted(fns):
            if f.endswith((".csv", ".tsv")):
                got = _sample(os.path.join(dp, f))
                return got if got is not None else ","
            if txt_fallback is None and f.endswith(".txt"):
                txt_fallback = os.path.join(dp, f)
    if txt_fallback is not None:
        got = _sample(txt_fallback)
        if got is not None:
            return got
    return ","


def _looks_like_parquet(path: str) -> bool:
    """Route a lint input to the parquet reader: a *.parquet file, or a
    directory holding parquet files anywhere under it (hive-partitioned
    layouts keep the files under k=v subdirs, so the walk must recurse).
    Each directory's full listing is examined before deciding — parquet
    wins over a stray notes.txt in the SAME directory — and the walk
    visits subdirectories in SORTED order, so routing is deterministic
    regardless of filesystem listing order (the first decisive
    directory in sorted traversal wins); a tree with no decisive files
    is walked fully and treated as CSV."""
    if os.path.isfile(path):
        return path.endswith(".parquet")
    if not os.path.isdir(path):
        return False
    for _dp, dns, fns in os.walk(path):
        dns.sort()
        if any(f.endswith(".parquet") for f in fns):
            return True
        if any(f.endswith((".csv", ".tsv", ".txt")) for f in fns):
            return False
    return False


def _run_lint(spark, path: str, args, opts: CSVOptions, fmt: str) -> int:
    """The `lint` command: build the DataFrame (a scan, a scan plus the
    CLI pipeline flags, or a user .py pipeline), run plans.lint.lint_plan
    on its plan — NOTHING is executed — and render the findings with the
    same table/csv/json renderers the other commands use.

    Exit code: 0 when the plan is clean or carries only info-tier
    advisories, 1 on any warn/error finding (so `bcsv lint` gates a CI
    step the same way tools/lint_registry.py gates this repo's own
    gates), 2 on usage errors."""
    from bun_csv_spark.plans.lint import lint_plan, plan_text

    if path.endswith(".py"):
        # a pipeline file: exec'd with `spark` in scope; the query is
        # whatever `build(spark)` returns (or a top-level `df`)
        ns: dict = {"spark": spark}
        try:
            with open(path) as fh:
                src = fh.read()
            exec(compile(src, path, "exec"), ns)  # noqa: S102 — user's own file, the CLI is the driver
            df = (
                ns["build"](spark)
                if callable(ns.get("build"))
                else ns.get("df")
            )
        except Exception as e:
            print(f"error: pipeline file raised {type(e).__name__}: {e}", file=sys.stderr)
            return 2
        if not isinstance(df, DataFrame):
            print(
                "error: pipeline file must define build(spark) -> DataFrame "
                "or a top-level DataFrame named df",
                file=sys.stderr,
            )
            return 2
    else:
        # any read/plan construction failure (missing path, partition
        # discovery mismatch, ...) is a USAGE error at this surface —
        # rc=2, never a traceback and never the rc=1 findings code
        try:
            from bun_csv_spark.plans.lint import _partition_cols

            if _looks_like_parquet(path):
                df = spark.read.parquet(path)
            elif os.path.isdir(path) and _partition_cols(path):
                # hive-partitioned CSV layout: the reference reader's
                # header probe reads one part file and cannot see the
                # k=v columns — plain Spark csv with partition
                # discovery is the faithful scan to lint. All-string
                # schema (like read_csv): inferSchema would read the
                # whole dataset at plan time, breaking the
                # nothing-executes contract. Delimiter/encoding carry
                # over; "auto" resolves off the first leaf file.
                enc = opts.encoding
                if not enc or enc == "auto":
                    enc = "UTF-8"  # Spark's csv charset has no "auto"
                ropts = {
                    "header": str(opts.has_header is not False).lower(),
                    "sep": _resolve_delimiter(path, opts.delimiter),
                    "encoding": enc,
                }
                # global reader flags that DO map onto Spark's csv
                # options carry over; the ones that don't (preview /
                # skip-first-n-lines / dynamic-typing run in the
                # reference reader, not this plain-Spark scan) warn
                # instead of silently diverging (r17 ADVICE fix)
                multi_char_comment = bool(
                    opts.comments and len(opts.comments) > 1
                )
                if opts.comments and not multi_char_comment:
                    # Spark's csv `comment` is a single CHAR; a
                    # multi-char prefix (the reference reader supports
                    # e.g. '//') cannot be represented here —
                    # truncating to the first char would silently drop
                    # every line whose first field starts with it, so
                    # it warns below instead
                    ropts["comment"] = opts.comments
                dropped = [
                    flag
                    for flag, on in (
                        ("--preview", opts.preview is not None),
                        ("--skip-first-n-lines", opts.skip_first_n_lines),
                        ("--dynamic-typing", opts.dynamic_typing),
                        (
                            "--comments (multi-char prefix)",
                            multi_char_comment,
                        ),
                    )
                    if on
                ]
                if dropped:
                    print(
                        "warning: partitioned-CSV lint ignores "
                        + ", ".join(dropped)
                        + " (not supported on the partition-discovery "
                        "scan; the linted plan may differ from the "
                        "real read path)",
                        file=sys.stderr,
                    )
                df = spark.read.options(**ropts).csv(path)
            else:
                df = read_csv(spark, path, opts)
        except Exception as e:
            msg = (str(e).splitlines() or [""])[0]
            print(
                f"error: cannot read {path!r}: {type(e).__name__}: "
                f"{msg[:200]}",
                file=sys.stderr,
            )
            return 2

    if args.select:
        resolved = _resolve_columns(df, args.select)
        if resolved is None:
            return 2
        df = df.select(*resolved)
    if args.filter_expr:
        try:
            df = df.filter(compile_filter(args.filter_expr))
        except ExprError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        except Exception as e:
            # unknown column etc. surface from Spark analysis, not the
            # expression grammar — still a usage error
            msg = (str(e).splitlines() or [""])[0]
            print(f"error: {msg[:200]}", file=sys.stderr)
            return 2
    if args.sort_col:
        if args.sort_col not in df.columns:
            print(f"error: unknown column {args.sort_col!r}", file=sys.stderr)
            return 2
        df = TurboFrame(df).sort(args.sort_col, descending=args.desc).df
    if args.limit is not None:
        df = df.limit(args.limit)

    budget = None if args.budget is None else int(args.budget * (1 << 20))
    # blank entries (trailing comma) must not reach the rules — an empty
    # name would inject an empty alternation into the table regex
    facts = (
        frozenset(t.strip() for t in args.fact_tables.split(",") if t.strip())
        if args.fact_tables
        else None
    )
    dims = (
        frozenset(t.strip() for t in args.dim_tables.split(",") if t.strip())
        if args.dim_tables
        else None
    )
    findings = lint_plan(
        df, fact_tables=facts, dim_tables=dims, fanout_budget=budget
    )

    if args.explain:
        # -f json advertises machine-readable stdout (CI pipes it to a
        # JSON parser) — the plan text goes to stderr there so stdout
        # stays pure JSON (r17 ADVICE fix); human formats keep it inline
        print(
            plan_text(df),
            file=sys.stderr if fmt == "json" else sys.stdout,
        )
    if not findings:
        # -f json stdout must stay parseable on the CLEAN path too (the
        # most common CI case): emit the empty findings array, keep the
        # human-readable line for human formats
        if fmt == "json":
            print("[]")
        else:
            print("clean: no findings")
        return 0
    rows = [
        {"severity": f.severity, "code": f.code, "message": f.message}
        for f in findings
    ]
    if args.suggest:
        for row, f in zip(rows, findings):
            row["suggestion"] = f.suggestion
    print(render(rows, fmt if fmt != "auto" else "table"))
    gating = sum(1 for f in findings if f.severity in ("error", "warn"))
    print(
        f"{len(findings)} finding(s), {gating} gating (warn/error)",
        file=sys.stderr,
    )
    return 1 if gating else 0


def _completions(shell: str) -> str:
    cmds = "count head tail select filter sort convert validate stats benchmark lint completions"
    if shell == "zsh":
        return f"compdef '_arguments \"1: :({cmds})\" \"*:file:_files\"' bcsv"
    return (
        "_bcsv() {\n"
        f'  COMPREPLY=($(compgen -W "{cmds}" -- "${{COMP_WORDS[COMP_CWORD]}}"))\n'
        "}\n"
        "complete -F _bcsv bcsv"
    )


if __name__ == "__main__":
    raise SystemExit(main())
