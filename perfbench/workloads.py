"""One pass of each benchmark workload, with a check on every timed operation.

A pass calls the library's public functions the way a user would. Each
call sits in a span named ``<module>.<function>[-variant]``. Untraced, the
layers stay lazy and fuse into the pass's actions; traced, each lazy layer's
output is materialized (``localCheckpoint``) inside its own span, so a span
times only its layer. That checkpoint is one of the span's jobs: a traced
``jobs`` count includes it. The row counts behind ``candidates`` and
``keep_ratio`` run after their layer's span has closed, outside its counts.

Checks compare outputs with the generator's expectations. A mismatch is
recorded in ``Checks`` and the pass goes on.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
from decimal import Decimal

import inputs
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Checks:
    """Counts operations attempted and failed; prints each failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, op: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {op} {detail}", file=sys.stderr)


def _materialize(tr, df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True) if tr.enabled else df


# -- csv_etl -------------------------------------------------------------------


class CsvEtl:
    """Reads one CSV three ways, runs a filter/join/group/sort query, column
    stats and an exact median, and writes the joined rows back as CSV."""

    def __init__(self, spark, input_dir: str, expect: dict, work: str):
        self.spark = spark
        self.e = expect
        self.lineitem = os.path.join(input_dir, "lineitem.csv")
        self.orders = os.path.join(input_dir, "orders.csv")
        self.out = os.path.join(work, "csv_write")
        self.written_bytes = 0

    def _read_totals(self, df: DataFrame, extra=()):
        return df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("price"),
            F.sum(F.col("l_comment").isNull().cast("long")).alias("null"),
            F.sum((F.col("l_comment") == "").cast("long")).alias("empty"),
            *extra,
        ).first()

    def _check_totals(self, ck: Checks, op: str, r) -> None:
        e = self.e
        got = (r["rows"], r["qty"], r["price"], r["null"], r["empty"])
        want = (e["rows"], e["sum_qty"], Decimal(e["sum_price"]),
                e["comment_null"], e["comment_empty"])
        ck.check(op, got == want, f"{got} != {want}")

    def run_pass(self, tr, ck: Checks) -> None:
        from bun_csv_spark.functions.coercion import apply_dynamic_typing
        from bun_csv_spark.operators.aggregates import exact_median_distributed
        from bun_csv_spark.operators.frame import TurboFrame
        from bun_csv_spark.operators.stats import column_stats
        from bun_csv_spark.plans.expr import compile_filter
        from bun_csv_spark.sources.csv_reader import CSVOptions, read_csv
        from bun_csv_spark.sources.csv_writer import write_csv

        spark, e = self.spark, self.e
        with tr.span("sources.csv_reader.read_csv-native"):
            r = self._read_totals(read_csv(spark, self.lineitem))
        self._check_totals(ck, "read_csv-native", r)

        with tr.span("sources.csv_reader.read_csv-typed"):
            df = read_csv(spark, self.lineitem)
            with tr.span("functions.coercion.apply_dynamic_typing"):
                typed = apply_dynamic_typing(df)  # eager: runs the inference scan
            r = typed.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("l_quantity").alias("qty"),
                F.sum(F.col("l_comment").isNull().cast("long")).alias("null"),
            ).first()
        types = dict(typed.dtypes)
        want_types = {c: "double" if c in inputs.NUMERIC_COLS else "string"
                      for c in inputs.LINEITEM_COLS}
        got = (r["rows"], r["qty"], r["null"], types)
        want = (e["rows"], float(e["sum_qty"]), e["comment_null"] + e["comment_empty"],
                want_types)
        ck.check("read_csv-typed", got == want, f"{got} != {want}")

        with tr.span("sources.csv_reader.read_csv-exact"):
            exact = read_csv(spark, self.lineitem, CSVOptions(relax_column_count=True))
            r = self._read_totals(
                exact, [F.count("__parsed_extra").alias("extra")])
        self._check_totals(ck, "read_csv-exact", r)
        ck.check("read_csv-exact extra", r["extra"] == e["extra_rows"],
                 f"{r['extra']} != {e['extra_rows']}")
        spark.catalog.clearCache()  # the exact path caches its parse

        # the query, stats and median layers share one cached parse, so their
        # spans time the operators rather than more reads of the same file
        lineitem = read_csv(spark, self.lineitem).cache()
        lineitem.count()

        with tr.span("operators.frame.query"):
            with tr.span("plans.expr.compile_filter"):
                pred = compile_filter(inputs.QUERY_FILTER)
            li = TurboFrame(lineitem).filter(pred)
            orders = TurboFrame(read_csv(spark, self.orders))
            joined = li.join(orders, on={"left": "l_orderkey", "right": "o_orderkey"})
            # cached in both modes, so write_csv below times only the writer
            joined = TurboFrame(joined.df.cache())
            joined.count()
            rows = (
                joined.group_by("o_orderpriority", "l_returnflag")
                .aggregate({"n": ("l_quantity", "count"), "qty": ("l_quantity", "sum")})
                .sort("qty", descending=True)
                .to_array()
            )
        got = sorted([r["o_orderpriority"], r["l_returnflag"], r["n"], int(r["qty"])]
                     for r in rows)
        desc = all(a["qty"] >= b["qty"] for a, b in zip(rows, rows[1:]))
        ck.check("frame.query", got == e["query"] and desc, f"{got} != {e['query']}")

        with tr.span("operators.stats.column_stats") as sp:
            stats = column_stats(lineitem, list(e["stats"]))
            sp.mark_built()
            stats = stats.collect()
        got = {r["column"]: [r["count"], r["null_count"], r["unique_count"],
                             r["min_num"], r["max_num"]] for r in stats}
        ck.check("column_stats", got == e["stats"], f"{got} != {e['stats']}")

        with tr.span("operators.aggregates.exact_median_distributed"):
            med = exact_median_distributed(lineitem, "l_extendedprice")
        ck.check("exact_median_distributed", med == e["median_price"],
                 f"{med} != {e['median_price']}")

        with tr.span("sources.csv_writer.write_csv"):
            write_csv(joined.df, self.out)
        lines, size = 0, 0
        for part in glob.glob(os.path.join(self.out, "part-*")):
            with open(part, "rb") as f:
                data = f.read()
            size += len(data)
            lines += max(0, data.count(b"\n") - 1)  # every part starts with a header
        self.written_bytes = size
        ck.check("write_csv", lines == e["joined_rows"], f"{lines} != {e['joined_rows']}")
        joined.df.unpersist()
        lineitem.unpersist()

    def rates(self, tr) -> dict:
        mb = self.e["bytes"] / 1e6
        med = _median_of(tr)
        paths = [med(f"sources.csv_reader.read_csv-{p}") for p in ("native", "typed", "exact")]
        return {
            "csv_read_mb_s": mb / paths[0],
            "csv_typed_read_mb_s": mb / paths[1],
            "csv_exact_read_mb_s": mb / paths[2],
            "csv_write_mb_s": self.written_bytes / 1e6 / med("sources.csv_writer.write_csv"),
            "input_mb_per_s": 3 * mb / sum(paths),
        }


# -- text_dedup ----------------------------------------------------------------

MIN_TOKENS = 5
N_HASHES, BANDS = 16, 8  # 2 rows per band: a planted pair is missed with p < 1e-6
JACCARD_MIN = 0.5
SIM_MIN = 0.8


class TextDedup:
    """Near-duplicate removal: minhash candidates, n-gram Jaccard, exact edit
    distance, connected components, keep one document per cluster."""

    def __init__(self, spark, input_dir: str, expect: dict, work: str):
        self.spark = spark
        self.e = expect
        self.corpus = os.path.join(input_dir, "corpus")
        self.par = spark.sparkContext.defaultParallelism  # one partition per task slot

    def run_pass(self, tr, ck: Checks) -> None:
        from bun_csv_spark.functions.text import token_count
        from bun_csv_spark.operators.dedup import (
            connected_components,
            editdist_verify,
            neardup_pairs_minhash,
            ngram_jaccard_pairs,
        )

        e = self.e
        with tr.span("text_dedup.pipeline"):
            corpus = self.spark.read.parquet(self.corpus)
            with tr.span("functions.text.token_count") as sp:
                docs = corpus.filter(token_count("text") >= MIN_TOKENS)
                sp.mark_built()
                docs = _materialize(tr, docs)
            with tr.span("operators.dedup.neardup_pairs_minhash") as sp:
                cands = neardup_pairs_minhash(
                    docs, "doc_id", "text", n_hashes=N_HASHES, bands=BANDS,
                    repartition=self.par)
                sp.mark_built()
                cands = _materialize(tr, cands)
            if tr.enabled:
                n_cands = cands.count()
                sp.count("candidates", n_cands)
            with tr.span("operators.dedup.ngram_jaccard_pairs") as sp:
                jac = ngram_jaccard_pairs(docs, cands, "doc_id", "text", n=3,
                                          threshold=JACCARD_MIN)
                sp.mark_built()
                jac = _materialize(tr, jac)
            if tr.enabled:
                sp.count("candidates", n_cands)
                sp.count("keep_ratio", jac.count() / max(n_cands, 1))
            with tr.span("operators.dedup.editdist_verify") as sp:
                ver = editdist_verify(docs, jac.select("id_a", "id_b"))
                ver = ver.filter(F.col("sim") >= SIM_MIN)
                sp.mark_built()
                ver = _materialize(tr, ver)
            with tr.span("operators.dedup.connected_components"):
                labels = connected_components(ver.select("id_a", "id_b"))
            with tr.span("text_dedup.keep_canonical"):
                dup = labels.filter(F.col("node") != F.col("label"))
                kept = docs.join(dup, docs["doc_id"] == dup["node"], "left_anti").count()
                rows = labels.collect()
        clusters: dict = {}
        for r in rows:
            clusters.setdefault(r["label"], []).append(r["node"])
        got = sorted(sorted(c) for c in clusters.values())
        ck.check("dedup clusters", got == e["clusters"],
                 f"{len(got)} clusters, {len(e['clusters'])} planted")
        ck.check("dedup kept", kept == e["kept"], f"{kept} != {e['kept']}")

    def rates(self, tr) -> dict:
        t = _median_of(tr)("text_dedup.pipeline")
        return {"dedup_docs_per_s": self.e["docs"] / t,
                "input_mb_per_s": self.e["bytes"] / 1e6 / t}


# -- media_decode --------------------------------------------------------------


class MediaDecode:
    """Pixel statistics over every stored image format, then dHash and
    banded Hamming pairs over the BMPs and their brightness-shifted twins."""

    def __init__(self, spark, input_dir: str, expect: dict, work: str):
        self.spark = spark
        self.e = expect
        self.media = os.path.join(input_dir, "media")

    def run_pass(self, tr, ck: Checks) -> None:
        from bun_csv_spark.multimodal import binary
        from bun_csv_spark.operators.dedup import hamming_pairs64

        decoders = {"jpeg444": binary.decode_jpeg_pixels,
                    "jpeg420": binary.decode_jpeg_pixels,
                    "jpeg_progressive": binary.decode_jpeg_pixels,
                    "png": binary.decode_png_pixels,
                    "bmp": binary.decode_bmp_pixels}
        w = F.col("doc_id") % 1009  # weights the sums by id, as the generator does
        for fmt in inputs.FORMATS:
            want = self.e["formats"][fmt]
            with tr.span(f"multimodal.binary.extract_pixel_stats-{fmt}"):
                df = self.spark.read.parquet(os.path.join(self.media, fmt))
                r = binary.extract_pixel_stats(df, decoder=decoders[fmt]).agg(
                    F.count(F.lit(1)), F.sum("n_pixels"),
                    F.sum("sum_b"), F.sum("sum_g"), F.sum("sum_r"),
                    F.sum(w * F.col("sum_b")), F.sum(w * F.col("sum_g")),
                    F.sum(w * F.col("sum_r")),
                ).first()
            got = [r[0], r[1], list(r[2:5]), list(r[5:8])]
            exp = [want["images"], want["pixels"], want["sums"], want["weighted"]]
            ck.check(f"extract_pixel_stats-{fmt}", got == exp, f"{got} != {exp}")

        with tr.span("multimodal.binary.extract_dhash") as sp:
            dh = binary.extract_dhash(self.spark.read.parquet(os.path.join(self.media, "bmp")))
            sp.mark_built()
            dh = _materialize(tr, dh)
        with tr.span("operators.dedup.hamming_pairs64") as sp:
            pairs = hamming_pairs64(dh, "doc_id", "dhash", max_hamming=inputs.MAX_HAMMING)
            sp.mark_built()
            pairs = sorted([r["id_a"], r["id_b"], r["hamming"]] for r in pairs.collect())
            sp.count("pairs", len(pairs))
        ck.check("hamming_pairs64", pairs == self.e["dhash_pairs"],
                 f"{len(pairs)} pairs, {len(self.e['dhash_pairs'])} expected")

    def rates(self, tr) -> dict:
        med = _median_of(tr)
        fm = self.e["formats"]
        t = sum(med(f"multimodal.binary.extract_pixel_stats-{f}") for f in fm)
        return {
            "decode_mpix_per_s": sum(v["pixels"] for v in fm.values()) / 1e6 / t,
            "input_mb_per_s": sum(v["bytes"] for v in fm.values()) / 1e6 / t,
        }


def _median_of(tr):
    return lambda name: statistics.median(tr.walls(name))


WORKLOADS = {"csv_etl": CsvEtl, "text_dedup": TextDedup, "media_decode": MediaDecode}
