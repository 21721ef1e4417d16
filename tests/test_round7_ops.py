"""Round-7 operators: deterministic HLL, weighted sampling, Markov
transitions, duplicated-span detection/removal, covariance + PCA."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from bun_csv_spark.functions.sketches import hll_distinct
from bun_csv_spark.operators.clustering import embedding_covariance, pca_project
from bun_csv_spark.operators.corpus import weighted_sample
from bun_csv_spark.operators.dedup import duplicate_spans, remove_duplicate_spans
from bun_csv_spark.operators.timeseries import transition_counts


# --- HLL -------------------------------------------------------------------


def test_hll_small_group_linear_counting(spark):
    # 3 distinct values in one group: far below 2.5m, linear-counting branch
    df = spark.createDataFrame(
        [("g", v) for v in ["a", "b", "c", "a", "b"]], ["grp", "v"]
    )
    est = hll_distinct(df, ["grp"], "v", p=8).collect()[0]["est_distinct"]
    assert abs(est - 3.0) < 0.2  # linear counting is near-exact this low


def test_hll_large_accuracy_and_determinism(spark):
    n = 5000
    df = spark.range(n).select(F.lit("g").alias("grp"), F.col("id").alias("v"))
    est1 = hll_distinct(df, ["grp"], "v", p=12).collect()[0]["est_distinct"]
    est2 = hll_distinct(
        df.repartition(7), ["grp"], "v", p=12
    ).collect()[0]["est_distinct"]
    assert est1 == est2  # partitioning can't perturb the estimate
    assert abs(est1 - n) / n < 0.08  # ~5 sigma at p=12 (sigma ~1.6%)


def test_hll_matches_pure_python_reference(spark):
    # bit-for-bit against an independent hashlib implementation
    import hashlib

    vals = [f"item{i}" for i in range(500)]
    p, m = 8, 256
    regs: dict[int, int] = {}
    for v in vals:
        d = hashlib.md5(f"hll:{v}".encode()).hexdigest()
        b = int(d[:2], 16)
        s = d[2:15].lstrip("0")
        if not s:
            rho = 53
        else:
            lz = {"1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1}.get(
                s[0], 0
            )
            rho = 4 * (13 - len(s)) + lz + 1
        regs[b] = max(regs.get(b, 0), rho)
    z = sum(2.0 ** -r for r in regs.values()) + (m - len(regs))
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m / z
    v0 = m - len(regs)
    expect = m * math.log(m / v0) if raw <= 2.5 * m and v0 > 0 else raw
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "v"])
    est = hll_distinct(df, ["grp"], "v", p=8).collect()[0]["est_distinct"]
    assert est == round(expect, 4)


# --- weighted sample -------------------------------------------------------


def test_weighted_sample_exact_k_and_determinism(spark):
    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("w")
    )
    s1 = {r["doc_id"] for r in weighted_sample(df, "doc_id", "w", 30).collect()}
    s2 = {
        r["doc_id"]
        for r in weighted_sample(df.repartition(5), "doc_id", "w", 30).collect()
    }
    assert s1 == s2 and len(s1) == 30


def test_weighted_sample_bias_toward_heavy_rows(spark):
    # weight 100 vs weight 1: heavy rows must dominate the sample
    rows = [(i, 100) for i in range(100)] + [(i + 100, 1) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = weighted_sample(df, "doc_id", "w", 50).collect()
    heavy = sum(1 for r in got if r["doc_id"] < 100)
    assert heavy >= 40


def test_weighted_sample_excludes_nonpositive(spark):
    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -1), (4, None), (5, 2)], ["doc_id", "w"]
    )
    got = {r["doc_id"] for r in weighted_sample(df, "doc_id", "w", 10).collect()}
    assert got == {1, 5}


# --- transition counts -----------------------------------------------------


def test_transition_counts_hand_example(spark):
    rows = [
        (1, 1, 10, "a"), (2, 1, 20, "b"), (3, 1, 30, "a"),
        (4, 2, 10, "a"), (5, 2, 20, "b"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    got = {
        (r["prev_state"], r["state"]): (r["n"], r["prob"])
        for r in transition_counts(df).collect()
    }
    assert got == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}


def test_transition_counts_prob_normalizes(spark):
    rows = [
        (1, 1, 10, "a"), (2, 1, 20, "b"),
        (3, 1, 30, "a"), (4, 1, 40, "c"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    out = transition_counts(df).collect()
    by_prev: dict[str, float] = {}
    for r in out:
        by_prev[r["prev_state"]] = by_prev.get(r["prev_state"], 0.0) + r["prob"]
    for total in by_prev.values():
        assert abs(total - 1.0) < 1e-9


def test_transition_counts_ties_break_on_event_id(spark):
    # same timestamp: event_id makes the order total -> a...b, never b...a
    rows = [(1, 1, 10, "a"), (2, 1, 10, "b")]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    got = [(r["prev_state"], r["state"]) for r in transition_counts(df).collect()]
    assert got == [("a", "b")]


# --- duplicated spans ------------------------------------------------------


BOILER = "this is the shared license header that repeats verbatim everywhere ok"


def _span_docs(spark):
    rows = [
        (1, BOILER + " unique tail one two three"),
        (2, BOILER + " different ending for doc two"),
        (3, "totally unique text with no duplication at all present here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_duplicate_spans_finds_shared_prefix(spark):
    docs = _span_docs(spark)
    spans = duplicate_spans(docs, n=8, min_docs=2).collect()
    by_doc = {r["doc_id"]: (r["span_start"], r["span_end"]) for r in spans}
    n_boiler = len(BOILER.split())
    # both docs report the boilerplate token range, doc 3 reports nothing
    assert by_doc[1] == (1, n_boiler) and by_doc[2] == (1, n_boiler)
    assert 3 not in by_doc


def test_duplicate_spans_merges_adjacent_windows(spark):
    docs = _span_docs(spark)
    spans = duplicate_spans(docs, n=8, min_docs=2)
    # every window of the shared region merges into ONE maximal span per doc
    assert spans.count() == 2
    n_windows = {r["doc_id"]: r["n_windows"] for r in spans.collect()}
    assert n_windows[1] == len(BOILER.split()) - 8 + 1


def test_remove_duplicate_spans_surgical(spark):
    docs = _span_docs(spark)
    spans = duplicate_spans(docs, n=8, min_docs=2)
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, spans).collect()}
    assert out[1]["clean_text"] == "unique tail one two three"
    assert out[1]["n_tokens_removed"] == len(BOILER.split())
    assert out[3]["clean_text"].startswith("totally unique")
    assert out[3]["n_tokens_removed"] == 0


# --- covariance + PCA ------------------------------------------------------


@pytest.fixture(scope="module")
def toy_vectors():
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 4))
    base[:, 1] = base[:, 0] * 2.0 + rng.normal(scale=0.01, size=40)  # corr dims
    return base


def test_embedding_covariance_matches_numpy(spark, toy_vectors):
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(toy_vectors)],
        ["vec_id", "embedding"],
    )
    got = embedding_covariance(df, "embedding", 4).collect()
    C = np.cov(toy_vectors.T, bias=True)
    for r in got:
        assert abs(r["cov"] - round(C[r["i"], r["j"]], 6)) <= 1e-6


def test_pca_project_captures_dominant_direction(spark, toy_vectors):
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(toy_vectors)],
        ["vec_id", "embedding"],
    )
    out = pca_project(df, "vec_id", "embedding", 4, k=2).toPandas()
    assert list(out.columns) == ["vec_id", "pc0", "pc1"]
    # pc0 must carry (much) more variance than pc1, and reproduce numpy's
    # top eigenvalue of the 6dp-rounded covariance
    v0, v1 = out["pc0"].var(ddof=0), out["pc1"].var(ddof=0)
    assert v0 > 2 * v1
    C = np.round(np.cov(toy_vectors.T, bias=True), 6)
    evals = np.linalg.eigvalsh(C)
    assert abs(v0 - evals[-1]) / evals[-1] < 0.01


def test_pca_project_deterministic_sign(spark, toy_vectors):
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(toy_vectors)],
        ["vec_id", "embedding"],
    )
    a = pca_project(df, "vec_id", "embedding", 4, k=1).toPandas()
    b = pca_project(df.repartition(3), "vec_id", "embedding", 4, k=1).toPandas()
    m = a.merge(b, on="vec_id", suffixes=("_a", "_b"))
    assert (m["pc0_a"] == m["pc0_b"]).all()


# --- char-bigram LM score --------------------------------------------------


def test_lm_score_common_vs_rare(spark):
    # "ababab..." docs make ab/ba overwhelmingly probable; the lone "zq"
    # doc is improbable under the corpus model -> higher perplexity
    rows = [(i, "abababababab") for i in range(5)] + [(5, "zqzqzqzqzqzq")]
    from bun_csv_spark.functions.text import char_bigram_lm_score

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in char_bigram_lm_score(df).collect()}
    assert out[5]["ppx"] > out[0]["ppx"]
    assert out[0]["n_bigrams"] == 11


def test_lm_score_matches_hand_model(spark):
    # corpus = "aab": bigrams aa, ab; V = 2 (successors a, b)
    # P(a|a) = (1+.5)/(2+.5*2) = .5 ; P(b|a) = (1+.5)/(2+.5*2) = .5
    import math

    from bun_csv_spark.functions.text import char_bigram_lm_score

    df = spark.createDataFrame([(1, "aab")], ["doc_id", "text"])
    r = char_bigram_lm_score(df).collect()[0]
    lp = (math.log(0.5) + math.log(0.5)) / 2
    assert r["logprob"] == round(lp, 6)
    assert r["ppx"] == round(math.exp(-lp), 4)


def test_lm_score_partition_invariant(spark):
    rows = [(i, f"some text number {i} with shared phrasing") for i in range(40)]
    from bun_csv_spark.functions.text import char_bigram_lm_score

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["doc_id"]: r["logprob"] for r in char_bigram_lm_score(df).collect()}
    b = {
        r["doc_id"]: r["logprob"]
        for r in char_bigram_lm_score(df.repartition(7)).collect()
    }
    assert a == b


# --- per-group weighted sample ---------------------------------------------


def test_weighted_sample_per_group_k_each(spark):
    from bun_csv_spark.operators.corpus import weighted_sample_per_group

    rows = [(g, g * 100 + i, i + 1) for g in (1, 2, 3) for i in range(20)]
    df = spark.createDataFrame(rows, ["grp", "doc_id", "w"])
    out = weighted_sample_per_group(df, "grp", "doc_id", "w", 5).collect()
    per = {}
    for r in out:
        per.setdefault(r["grp"], set()).add(r["doc_id"])
    assert all(len(v) == 5 for v in per.values()) and len(per) == 3


def test_weighted_sample_per_group_matches_global_within_group(spark):
    # with ONE group, the per-group sampler must equal the global one
    from bun_csv_spark.operators.corpus import weighted_sample, weighted_sample_per_group

    rows = [(1, i, (i % 5) + 1) for i in range(50)]
    df = spark.createDataFrame(rows, ["grp", "doc_id", "w"])
    g = {r["doc_id"] for r in weighted_sample_per_group(df, "grp", "doc_id", "w", 8).collect()}
    s = {r["doc_id"] for r in weighted_sample(df, "doc_id", "w", 8).collect()}
    assert g == s


# --- last-touch attribution ------------------------------------------------


def test_attribution_credits_most_recent_touch(spark):
    from bun_csv_spark.operators.timeseries import last_touch_attribution

    rows = [
        (1, 1, 10, "view"), (2, 1, 20, "click"), (3, 1, 30, "purchase"),
        (4, 1, 40, "purchase"),           # still credits click (lookback)
        (5, 2, 10, "purchase"),           # no prior touch -> NULL
        (6, 3, 10, "view"), (7, 3, 20, "purchase"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    got = {
        r["touch_state"]: r["n_conversions"]
        for r in last_touch_attribution(df).collect()
    }
    assert got == {"click": 2, "view": 1, None: 1}


# --- histogram quantile sketch ---------------------------------------------


def test_histogram_quantiles_uniform(spark):
    from bun_csv_spark.functions.sketches import histogram_quantiles

    df = spark.range(10001).select(F.col("id").cast("double").alias("v"))
    got = {r["q"]: r["est"] for r in histogram_quantiles(df, "v", [0.5, 0.9]).collect()}
    # uniform 0..10000: error bounded by one bin width (10)
    assert abs(got[0.5] - 5000) <= 10
    assert abs(got[0.9] - 9000) <= 10


def test_histogram_quantiles_partition_invariant(spark):
    from bun_csv_spark.functions.sketches import histogram_quantiles

    df = spark.range(5000).select(((F.col("id") * 37) % 1000).cast("double").alias("v"))
    a = {r["q"]: r["est"] for r in histogram_quantiles(df, "v", [0.25, 0.75]).collect()}
    b = {
        r["q"]: r["est"]
        for r in histogram_quantiles(df.repartition(9), "v", [0.25, 0.75]).collect()
    }
    assert a == b


# --- data-quality rules ----------------------------------------------------


def test_validate_rules_counts_and_null_semantics(spark):
    from bun_csv_spark.operators.stats import validate_rules

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 3.0)], ["id", "amount"]
    )
    out = {
        r["rule"]: (r["n_rows"], r["n_violations"], r["violation_rate"])
        for r in validate_rules(
            df,
            {
                "amount_positive": F.col("amount") > 0,  # NULL -> violation
                "id_present": F.col("id").isNotNull(),
            },
        ).collect()
    }
    assert out["amount_positive"] == (4, 2, 0.5)  # -5 and NULL
    assert out["id_present"] == (4, 0, 0.0)


def test_validate_rules_single_pass(spark):
    # all rules must fold into ONE aggregate: no joins, no extra scans
    from bun_csv_spark.operators.stats import validate_rules

    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))
    plan = validate_rules(
        df, {"a": F.col("v") < 5, "b": F.col("id") >= 0}
    )._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Range (0, 100") == 1


def test_histogram_quantiles_degenerate_domain(spark):
    # all values equal: width is 0; every quantile must resolve to that
    # value (not NaN/null from a 0/0 bin expression)
    from bun_csv_spark.functions.sketches import histogram_quantiles

    df = spark.range(50).select(F.lit(7.25).alias("v"))
    got = {r["q"]: r["est"] for r in histogram_quantiles(df, "v", [0.1, 0.5, 0.9]).collect()}
    assert got == {0.1: 7.25, 0.5: 7.25, 0.9: 7.25}


def test_validate_rules_rejects_bad_input(spark):
    from bun_csv_spark.operators.stats import validate_rules

    df = spark.range(5)
    with pytest.raises(ValueError, match="non-empty"):
        validate_rules(df, {})
    with pytest.raises(ValueError, match="safe identifier"):
        validate_rules(df, {"bad'name": F.col("id") > 0})
    with pytest.raises(ValueError, match="safe identifier"):
        validate_rules(df, {"back`tick": F.col("id") > 0})


# --- mergeable HLL registers -----------------------------------------------


def test_hll_merge_lossless(spark):
    from bun_csv_spark.functions.sketches import (
        hll_distinct,
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    df = spark.range(2000).select(
        F.lit("g").alias("grp"), (F.col("id") % 777).alias("v"), F.col("id")
    )
    direct = hll_distinct(df, ["grp"], "v").collect()[0]["est_distinct"]
    shards = [
        hll_registers(df.filter(F.col("id") % 3 == i), ["grp"], "v")
        for i in range(3)
    ]
    merged = hll_estimate(
        hll_merge(*shards, key_cols=["grp"]), ["grp"]
    ).collect()[0]["est_distinct"]
    assert merged == direct  # max-merge is exactly lossless


def test_hll_merge_idempotent_on_duplicate_shards(spark):
    # re-merging the same shard (at-least-once delivery) changes nothing
    from bun_csv_spark.functions.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    df = spark.range(500).select(F.lit("g").alias("grp"), F.col("id").alias("v"))
    r = hll_registers(df, ["grp"], "v")
    once = hll_estimate(r, ["grp"]).collect()[0]["est_distinct"]
    twice = hll_estimate(
        hll_merge(r, r, r, key_cols=["grp"]), ["grp"]
    ).collect()[0]["est_distinct"]
    assert once == twice


# --- retention cohorts -----------------------------------------------------


def test_retention_cohorts_hand_example(spark):
    from bun_csv_spark.operators.timeseries import retention_cohorts

    # period = 10 ns for readability; users 1,2 start period 0; user 3
    # starts period 1; user 2 returns in period 1, nobody in period 2+
    rows = [
        (1, 1, 5), (2, 2, 7), (3, 2, 15),   # u2 active periods 0 and 1
        (4, 3, 12), (5, 1, 3),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    got = {
        (r["cohort_period"], r["period_offset"]): (r["n_active"], r["retention"])
        for r in retention_cohorts(df, period_ns=10).collect()
    }
    assert got == {
        (0, 0): (2, 1.0),   # cohort 0: users 1, 2
        (0, 1): (1, 0.5),   # only user 2 retained
        (1, 0): (1, 1.0),   # cohort 1: user 3
    }


def test_retention_offset_zero_is_full(spark):
    from bun_csv_spark.operators.timeseries import retention_cohorts
    from bun_csv_spark.sources.events import read_events

    out = retention_cohorts(read_events(spark, "/root/testdata/sf0.001")).collect()
    assert all(r["retention"] == 1.0 for r in out if r["period_offset"] == 0)
    assert all(0 < r["retention"] <= 1.0 for r in out)


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def test_cm_never_underestimates(spark):
    from pyspark.sql import functions as F

    from bun_csv_spark.functions.sketches import cm_estimate, cm_sketch

    rows = [(f"u{i % 23}",) for i in range(400)] + [("hot",)] * 100
    df = spark.createDataFrame(rows, ["v"])
    sk = cm_sketch(df, "v", depth=4, width=64)
    est = cm_estimate(sk, df.select("v").distinct(), "v", depth=4, width=64)
    exact = df.groupBy("v").agg(F.count(F.lit(1)).alias("exact"))
    joined = {r["v"]: (r["exact"], r["est_count"]) for r in
              est.join(exact, "v").collect()}
    assert len(joined) == 24
    for _, (exact_n, est_n) in joined.items():
        assert est_n >= exact_n  # the one-sided CM guarantee
    # the heavy hitter dominates and a narrow sketch stays near-exact here
    assert joined["hot"][1] >= 100


def test_cm_state_is_bounded(spark):
    from bun_csv_spark.functions.sketches import cm_sketch

    df = spark.range(5000).selectExpr("CAST(id AS STRING) AS v")
    sk = cm_sketch(df, "v", depth=4, width=32)
    assert sk.count() <= 4 * 32


def test_cm_merge_equals_whole(spark):
    from bun_csv_spark.functions.sketches import cm_merge, cm_sketch

    a = spark.range(0, 300).selectExpr("CAST(id % 17 AS STRING) AS v")
    b = spark.range(300, 700).selectExpr("CAST(id % 31 AS STRING) AS v")
    merged = {(r["row"], r["col"]): r["cnt"] for r in
              cm_merge(cm_sketch(a, "v", 4, 64), cm_sketch(b, "v", 4, 64)).collect()}
    whole = {(r["row"], r["col"]): r["cnt"] for r in
             cm_sketch(a.unionAll(b), "v", 4, 64).collect()}
    assert merged == whole  # counters are linear: merge is exact


def test_cm_absent_candidate_reads_zero_or_collision(spark):
    from bun_csv_spark.functions.sketches import cm_estimate, cm_sketch

    data = spark.createDataFrame([("a",), ("a",), ("b",)], ["v"])
    sk = cm_sketch(data, "v", depth=4, width=512)
    ghost = spark.createDataFrame([("never-seen",)], ["v"])
    [row] = cm_estimate(sk, ghost, "v", depth=4, width=512).collect()
    assert row["est_count"] == 0  # wide sketch, 2 values: no collision


# ---------------------------------------------------------------------------
# leakage-safe split
# ---------------------------------------------------------------------------


def test_leakage_safe_split_keeps_pairs_together(spark):
    from bun_csv_spark.operators.corpus import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    # chains 0-1-2, 10-11, and a bigger component 20..24
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        ["id_a", "id_b"],
    )
    out = leakage_safe_split(
        docs, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    assert len(out) == 200
    by_id = {r["doc_id"]: r for r in out}
    for comp in [(0, 1, 2), (10, 11), (20, 21, 22, 23, 24)]:
        splits = {by_id[i]["split"] for i in comp}
        groups = {by_id[i]["split_group"] for i in comp}
        assert len(splits) == 1, f"component {comp} straddles splits"
        assert groups == {min(comp)}
    # singletons keep their own id as group and match plain hash_split
    from bun_csv_spark.operators.util import hash_split

    plain = {r["doc_id"]: r["split"] for r in hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    for i in range(100, 200):
        assert by_id[i]["split_group"] == i
        assert by_id[i]["split"] == plain[i]


def test_leakage_safe_split_fractions_roughly_hold(spark):
    from bun_csv_spark.operators.corpus import leakage_safe_split

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    out = leakage_safe_split(
        docs, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F_count().alias("n")).collect()}
    assert 0.7 < counts["train"] / 2000 < 0.9
    assert counts["train"] + counts.get("val", 0) + counts.get("test", 0) == 2000


def F_count():
    from pyspark.sql import functions as F

    return F.count(F.lit(1))


# ---------------------------------------------------------------------------
# OHLC resample / join-size estimate / streaming HLL
# ---------------------------------------------------------------------------


def test_ohlc_hand_example(spark):
    from bun_csv_spark.operators.timeseries import ohlc_resample

    h = 3_600_000_000_000  # one hour in nanos
    rows = [
        # (event_id, ts, event_type, value) — one bucket, known order
        (1, h + 10, "a", 5.0),
        (2, h + 20, "a", 9.0),
        (3, h + 30, "a", 1.0),
        (4, h + 40, "a", 7.0),
        # second bucket
        (5, 2 * h + 1, "a", 2.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    got = {r["bucket"]: r for r in ohlc_resample(df).collect()}
    b1 = [k for k in got if k.endswith("01:00:00")][0]
    assert (got[b1]["open"], got[b1]["high"], got[b1]["low"], got[b1]["close"]) == (
        5.0, 9.0, 1.0, 7.0)
    assert got[b1]["n_events"] == 4


def test_ohlc_tie_resolves_by_tiebreak(spark):
    from bun_csv_spark.operators.timeseries import ohlc_resample

    rows = [(2, 1000, "a", 8.0), (1, 1000, "a", 3.0)]  # same ts!
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    [r] = ohlc_resample(df).collect()
    assert r["open"] == 3.0 and r["close"] == 8.0  # event_id breaks the tie


def test_cm_inner_product_bounds_join_size(spark):
    from pyspark.sql import functions as F

    from bun_csv_spark.functions.sketches import cm_inner_product, cm_sketch

    a = spark.range(1000).selectExpr("id % 100 AS k")
    b = spark.range(300).selectExpr("id % 100 AS k")
    exact = a.join(b, "k").count()
    [r] = cm_inner_product(
        cm_sketch(a, "k", depth=4, width=4096),
        cm_sketch(b, "k", depth=4, width=4096),
    ).collect()
    assert r["est_join_size"] >= exact            # never underestimates
    assert r["est_join_size"] <= exact * 1.5 + 100  # wide sketch: close


def test_streaming_hll_equals_batch(spark):
    from bun_csv_spark.functions.sketches import hll_distinct

    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    streamed = {
        r["event_type"]: r["est_distinct"]
        for r in entry_mod.queries()["streaming_hll"](spark, sf).collect()
    }
    from bun_csv_spark.sources.events import read_events

    batch = {
        r["event_type"]: r["est_distinct"]
        for r in hll_distinct(
            read_events(spark, sf), ["event_type"], "user_id", p=8
        ).collect()
    }
    assert streamed == batch  # stream == batch EXACTLY, not approximately


def test_ohlc_fast_path_hash_aggregates(spark):
    from bun_csv_spark.operators.timeseries import ohlc_resample

    rows = [(1, 1000, "a", 3.0), (2, 2000, "a", 8.0)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    fast = ohlc_resample(df, strict_ties=False)
    plan = fast._sc._jvm.PythonSQLUtils.explainString(
        fast._jdf.queryExecution(), "simple"
    )
    assert "HashAggregate" in plan and "SortAggregate" not in plan
    [r] = fast.collect()
    assert (r["open"], r["close"]) == (3.0, 8.0)


def test_streaming_hll_multibatch_merge(spark, tmp_path):
    """HLL register state accumulated across SEVERAL micro-batches must
    equal the batch estimate — the real incremental-merge proof (one
    batch per arrival phase, state carried by the streaming aggregate)."""
    from pyspark.sql import functions as F

    from bun_csv_spark.functions.sketches import hll_distinct, hll_estimate, hll_registers
    from bun_csv_spark.sources.events import read_events
    from bun_csv_spark.streaming.windows import run_stream_to_table, stage_phased_replay

    sf = "/root/testdata/sf0.001"
    ev = read_events(spark, sf)
    src = stage_phased_replay(
        ev,
        [("p0", F.col("event_id") % 3 == 0),
         ("p1", F.col("event_id") % 3 == 1),
         ("p2", F.col("event_id") % 3 == 2)],
        str(tmp_path / "phases"),
    )
    regs = run_stream_to_table(
        spark, src,
        lambda s: hll_registers(s, ["event_type"], "user_id", p=8),
        output_mode="complete", max_files_per_trigger=1,
    )
    streamed = {r["event_type"]: r["est_distinct"]
                for r in hll_estimate(regs, ["event_type"], p=8).collect()}
    batch = {r["event_type"]: r["est_distinct"]
             for r in hll_distinct(ev, ["event_type"], "user_id", p=8).collect()}
    assert streamed == batch


# ---------------------------------------------------------------------------
# perceptual image dHash
# ---------------------------------------------------------------------------


def test_dhash_brightness_near_invariant(spark):
    from pyspark.sql import functions as F

    from bun_csv_spark.multimodal.binary import attach_bmp_payload, extract_dhash

    docs = spark.range(40).select((F.col("id") * 13 + 7).alias("doc_id"))
    big = (F.col("width") >= 8) & (F.col("height") >= 8)  # thumbnails are noise
    h0 = {r["doc_id"]: r["dhash"] for r in
          extract_dhash(attach_bmp_payload(docs, texture=True)).filter(big).collect()}
    h5 = {r["doc_id"]: r["dhash"] for r in
          extract_dhash(attach_bmp_payload(docs, texture=True, bias=5)).filter(big).collect()}
    assert len(h0) >= 10
    for i in h0:
        assert bin((h0[i] ^ h5[i]) & ((1 << 64) - 1)).count("1") <= 10


def test_dhash_distinct_images_far_apart(spark):
    from pyspark.sql import functions as F

    from bun_csv_spark.multimodal.binary import attach_bmp_payload, extract_dhash

    # two big textured images with different content ids
    docs = spark.createDataFrame([(15,), (47,)], ["doc_id"])  # both 16x16
    rows = extract_dhash(attach_bmp_payload(docs, texture=True)).collect()
    assert all(r["width"] == 16 for r in rows)
    [a, b] = [r["dhash"] for r in rows]
    assert bin((a ^ b) & ((1 << 64) - 1)).count("1") > 10


def test_hamming_pairs64_exact_dups_and_cap(spark):
    from bun_csv_spark.operators.dedup import hamming_pairs64

    rows = [(1, 0x1234_5678_9ABC_DEF0), (2, 0x1234_5678_9ABC_DEF0),  # exact dup
            (3, 0x1234_5678_9ABC_DEF1),                               # hamming 1
            (4, -42)]                                                 # far away
    df = spark.createDataFrame(rows, ["doc_id", "h"])
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in hamming_pairs64(df, "doc_id", "h", max_hamming=6).collect()}
    assert got == {(1, 2): 0, (1, 3): 1, (2, 3): 1}


def test_dhash_width_height_match_payload(spark):
    from pyspark.sql import functions as F

    from bun_csv_spark.multimodal.binary import attach_bmp_payload, extract_dhash

    docs = spark.range(32).select(F.col("id").alias("doc_id"))
    for r in extract_dhash(attach_bmp_payload(docs)).collect():
        assert r["width"] == 1 + r["doc_id"] % 16
        assert r["height"] == 1 + (r["doc_id"] * 3) % 16


def test_audio_fingerprint_dc_shift_near_invariant(spark):
    from pyspark.sql import functions as F

    from bun_csv_spark.multimodal.binary import (
        attach_pcm_wav_payload,
        extract_audio_fingerprint,
    )

    docs = spark.range(40).select((F.col("id") * 11 + 3).alias("doc_id"))
    f0 = {r["doc_id"]: r["fingerprint"] for r in extract_audio_fingerprint(
        attach_pcm_wav_payload(docs, texture=True)).collect()}
    f4 = {r["doc_id"]: r["fingerprint"] for r in extract_audio_fingerprint(
        attach_pcm_wav_payload(docs, texture=True, bias=4)).collect()}
    for i in f0:
        assert bin((f0[i] ^ f4[i]) & ((1 << 64) - 1)).count("1") <= 10


def test_audio_fingerprint_meta_matches_fixture(spark):
    from pyspark.sql import functions as F

    from bun_csv_spark.multimodal.binary import (
        AUDIO_RATES,
        attach_pcm_wav_payload,
        extract_audio_fingerprint,
    )

    docs = spark.range(16).select(F.col("id").alias("doc_id"))
    for r in extract_audio_fingerprint(attach_pcm_wav_payload(docs)).collect():
        assert r["n_samples"] == 16 + r["doc_id"] % 64
        assert r["sample_rate"] == AUDIO_RATES[r["doc_id"] % 4]


# ---------------------------------------------------------------------------
# plan linter
# ---------------------------------------------------------------------------


def test_lint_flags_cartesian_and_global_window(spark):
    from pyspark.sql import Window

    from bun_csv_spark.plans.lint import lint_plan

    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    codes = {f.code for f in lint_plan(a.crossJoin(b))}
    assert "cartesian-product" in codes or "nested-loop-join" in codes

    w = Window.orderBy("id")  # no partitionBy: global window
    df = spark.range(100).withColumn("rs", F.sum("id").over(w))
    assert "global-window" in {f.code for f in lint_plan(df)}


def test_lint_flags_python_udf_but_not_builtin(spark):
    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    from bun_csv_spark.plans.lint import lint_plan

    plus = udf(lambda x: x + 1, LongType())
    codes = {f.code for f in lint_plan(spark.range(10).select(plus("id")))}
    assert "python-udf" in codes
    clean = lint_plan(spark.range(10).select((F.col("id") + 1).alias("x")))
    assert {f.code for f in clean} == set()


def test_lint_clean_on_pushed_down_gate(spark):
    import __spark_entry__ as entry_mod

    from bun_csv_spark.plans.lint import lint_plan

    df = entry_mod.queries()["tpch_q1"](spark, "/root/testdata/sf0.001")
    assert not [f for f in lint_plan(df) if f.severity == "error"]


def test_dhash_is_container_invariant(spark):
    """The same image bytes encoded as BMP (BGR rows) and as PNG (RGB +
    zlib + scanline filters) must produce the IDENTICAL dHash — gray
    sums all three channels, so container channel order cancels, and
    the decode paths (struct/numpy view vs inflate+unfilter) must agree
    pixel-for-pixel."""
    from pyspark.sql import functions as F

    from bun_csv_spark.multimodal.binary import (
        attach_bmp_payload,
        attach_png_rgb_payload,
        extract_dhash,
    )

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    bmp = {r["doc_id"]: r["dhash"] for r in
           extract_dhash(attach_bmp_payload(docs)).collect()}
    png = {r["doc_id"]: r["dhash"] for r in
           extract_dhash(attach_png_rgb_payload(docs)).collect()}
    assert bmp == png


def test_scd2_build_versions_and_currency(spark):
    from bun_csv_spark.operators.maintenance import scd2_build

    rows = [
        (1, 1, 10, "bronze"), (2, 1, 20, "silver"), (3, 1, 30, "gold"),
        (4, 2, 15, "bronze"),
        (5, 3, 10, "x"), (6, 3, 10, "y"),  # same ts: tiebreak on event_id
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "tier"])
    out = {(r["user_id"], r["version"]): r for r in scd2_build(
        df, ["user_id"], "ts", ["tier"], tiebreak_col="event_id").collect()}
    assert out[(1, 1)]["tier"] == "bronze" and out[(1, 1)]["eff_to"] == 20
    assert out[(1, 3)]["tier"] == "gold" and out[(1, 3)]["is_current"]
    assert not out[(1, 1)]["is_current"] and not out[(1, 2)]["is_current"]
    assert out[(2, 1)]["is_current"] and out[(2, 1)]["eff_to"] is None
    # deterministic tie: event 5 ("x") versions before event 6 ("y")
    assert out[(3, 1)]["tier"] == "x" and out[(3, 2)]["tier"] == "y"
    # intervals tile the key's history: eff_to of v equals eff_from of v+1
    assert out[(3, 1)]["eff_to"] == out[(3, 2)]["eff_from"]


def test_histogram_merge_equals_whole_and_bounded(spark):
    from bun_csv_spark.functions.sketches import (
        histogram_merge,
        histogram_state,
        histogram_state_quantiles,
    )

    df = spark.range(10_000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.pmod(F.col("id") * 37, F.lit(1000)) / 10.0).alias("v"),
    )
    a, b = df.filter(F.col("id") % 2 == 0), df.filter(F.col("id") % 2 == 1)
    merged = histogram_merge(
        histogram_state(a, "v", 0.0, 100.0, 50, ["k"]),
        histogram_state(b, "v", 0.0, 100.0, 50, ["k"]),
        key_cols=["k"],
    )
    whole = histogram_state(df, "v", 0.0, 100.0, 50, ["k"])
    as_map = lambda s: {(r["k"], r["bin"]): r["cnt"] for r in s.collect()}
    assert as_map(merged) == as_map(whole)  # counter sums: merge is exact
    assert merged.count() <= 3 * 50

    qs = histogram_state_quantiles(merged, [0.5], 0.0, 100.0, 50, ["k"])
    for r in qs.collect():
        assert 40.0 <= r["est"] <= 60.0  # uniform-ish: median near 50


def test_histogram_state_clamps_out_of_range(spark):
    from bun_csv_spark.functions.sketches import histogram_state

    df = spark.createDataFrame([(-5.0,), (0.0,), (99.0,), (250.0,)], ["v"])
    bins = {r["bin"]: r["cnt"] for r in
            histogram_state(df, "v", 0.0, 100.0, 10).collect()}
    assert bins[0] == 2  # -5 clamps into bin 0
    assert bins[9] == 2  # 250 clamps into the top bin
