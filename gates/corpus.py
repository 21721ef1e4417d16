"""Corpus curation gates: sampling, mixtures, caps, percentile thresholds,
splits, snapshot diffs and KMV corpus overlap."""

from __future__ import annotations

from pyspark.sql import functions as F

from bun_csv_spark.functions.sketches import (
    kmv_set_estimates,
    kmv_set_estimates_by,
    kmv_state,
    kmv_state_by,
)
from bun_csv_spark.functions.text import char_shingles, token_count, tokens
from bun_csv_spark.operators.corpus import (
    balanced_sample,
    cap_per_group,
    curriculum_shards,
    length_histogram,
    mixture_stats,
    oversample_by_factor,
    quality_percentile_filter,
    quantile_normalize,
    robust_scale,
    temperature_resample,
    token_budget_sample,
    weighted_sample,
    weighted_sample_per_group,
)
from bun_csv_spark.operators.packing import pack_sequences
from bun_csv_spark.operators.util import hash_split, stratified_sample_hash
from bun_csv_spark.operators.versioning import snapshot_diff

from gates.common import Family, Plan, _t


GATES = Family()


# corpus_overlap: KMV bottom-k replayed exactly — md5-uniform hashes
# (same 'kmv:' salt), ORDER BY h LIMIT k per side / merged, Beyer
# et al. estimators with the identical double op order
_KMV_D = "1152921504606846976.0"  # float(1 << 60), exact as a double


# mirrors stratified_sample_hash: md5-bucket < per-stratum cutoff
@GATES.gate("stratified_sample", """
        SELECT doc_id, lang, source FROM documents
        WHERE CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) % 10000 <
          CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 10000
                    WHEN 'es' THEN 5000 WHEN 'de' THEN 10000
                    WHEN 'fr' THEN 7500 END
    """)
def q_stratified_sample(spark, sf_dir):
    """Training-data mixture control: deterministic hash-based stratified
    sampling per language (downsample dominant en, keep rare langs)."""
    docs = _t(spark, sf_dir, "documents")
    fractions = {"en": 0.25, "zh": 1.0, "es": 0.5, "de": 1.0, "fr": 0.75}
    return stratified_sample_hash(docs, "lang", fractions, "doc_id").select(
        "doc_id", "lang", "source"
    )


@GATES.gate("seq_packing", r"""
        WITH c AS (
          SELECT doc_id, (doc_id % 16)::BIGINT AS shard,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> ''))::BIGINT AS n_tok
          FROM documents),
        w AS (
          SELECT *, coalesce(sum(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM c)
        SELECT doc_id, shard, n_tok, (cum // 512)::BIGINT AS pack_id,
               (row_number() OVER (PARTITION BY shard, cum // 512
                                   ORDER BY doc_id) - 1)::BIGINT AS pack_pos
        FROM w
    """)
def q_seq_packing(spark, sf_dir):
    """Sequence packing: contiguous fill of 512-token packs within
    explicit shards (window arithmetic, one shuffle — the pre-loader step
    of a training pipeline)."""
    docs = _t(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        (F.col("doc_id") % 16).cast("long").alias("shard"),
        token_count("text").cast("long").alias("n_tok"),
    )
    out = pack_sequences(
        counted, "n_tok", budget=512, order_col="doc_id", shard_col="shard"
    )
    return out.select("doc_id", "shard", "n_tok", "pack_id", "pack_pos")


@GATES.gate("corpus_mixture", r"""
        WITH per AS (
          SELECT source,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> ''))::BIGINT AS nt,
                 len(text) AS nc
          FROM documents),
        agg AS (
          SELECT source, count(*)::BIGINT AS n_docs,
                 sum(nt)::BIGINT AS n_tokens,
                 round(avg(nc), 4) AS mean_chars
          FROM per GROUP BY source),
        tot AS (SELECT sum(n_docs) AS nd, sum(n_tokens) AS nt FROM agg)
        SELECT source, n_docs, n_tokens, mean_chars,
               round(n_docs::DOUBLE / tot.nd, 6) AS doc_share,
               round(n_tokens::DOUBLE / tot.nt, 6) AS token_share
        FROM agg, tot
    """)
def q_corpus_mixture(spark, sf_dir):
    """Per-source mixture statistics (doc/token shares, mean length) —
    the aggregation a mixture-weight decision reads. One shuffle."""
    return mixture_stats(_t(spark, sf_dir, "documents"), by="source")


@GATES.gate("oversample_epochs", """
        SELECT doc_id, source,
               unnest(generate_series(
                 1, CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 3 + 1
               ))::BIGINT AS epoch
        FROM documents
    """)
def q_oversample_epochs(spark, sf_dir):
    """Mixture control by deterministic integer oversampling: each source
    repeats 1-3 times (factor derived from the source id, no RNG), rows
    multiplied map-side via explode(sequence) — no shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    factor = (
        F.regexp_extract("source", r"([0-9]+)", 1).cast("int") % 3 + 1
    )
    return oversample_by_factor(docs, factor)


@GATES.gate("domain_cap", """
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM documents)
        WHERE rn <= 15
    """, Plan(
    # one window shuffle on the group key
    shuffles=1, must=["Window"],
))
def q_domain_cap(spark, sf_dir):
    """Per-source document cap (CC-pipeline 'max N docs per host'):
    deterministic first-15-by-doc_id per source — one shuffle on the
    group key."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, "source", "doc_id", 15)


@GATES.gate("quality_percentile", r"""
        WITH s AS (
          SELECT doc_id,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> ''))::DOUBLE AS sc
          FROM documents),
        t AS (SELECT quantile_cont(sc, 0.75) AS thr FROM s)
        SELECT doc_id, sc::BIGINT AS n_tokens FROM s, t WHERE sc >= thr
    """, Plan(shuffles=1, must=["BroadcastExchange"], must_not=["SortMergeJoin"]))
def q_quality_percentile(spark, sf_dir):
    """Adaptive quality threshold: keep the top 25% of docs by token
    count — the exact corpus percentile travels as a 1-row broadcast,
    never a collect (approx_percentile swaps in at 100 TB)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    score = F.size(tokens(F.col("text"))).cast("double")
    kept = quality_percentile_filter(docs, score, keep_top_fraction=0.25)
    return kept.select("doc_id", F.col("__score").cast("long").alias("n_tokens"))


@GATES.gate("length_histogram", r"""
        WITH per AS (
          SELECT len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '')) AS n
          FROM documents),
        hist AS (
          SELECT (n - n % 10)::BIGINT AS bucket_lo,
                 count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS total_tokens
          FROM per GROUP BY 1),
        tot AS (SELECT sum(n_docs) AS nd, sum(total_tokens) AS nt FROM hist)
        SELECT bucket_lo, n_docs, total_tokens,
               round(n_docs / nd, 6) AS doc_share,
               round(total_tokens / nt, 6) AS token_share
        FROM hist, tot
    """)
def q_length_histogram(spark, sf_dir):
    """Token-budget accounting: width-10 token-length histogram with doc
    and token shares (histogram-sized broadcast for the totals)."""
    return length_histogram(_t(spark, sf_dir, "documents"), "text", 10)


@GATES.gate("token_budget", r"""
        WITH t AS (
          SELECT doc_id,
                 len(list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> ''))::BIGINT AS n_tok,
                 md5('budget:' || doc_id::VARCHAR) AS u
          FROM documents),
        b AS (
          SELECT doc_id, n_tok, u,
                 CAST('0x' || substr(u, 1, 2) AS BIGINT) % 32 AS bkt
          FROM t),
        c AS (
          SELECT doc_id, n_tok, bkt,
                 sum(n_tok) OVER (PARTITION BY bkt
                                  ORDER BY u ROWS UNBOUNDED PRECEDING) AS cum
          FROM b)
        SELECT doc_id, n_tok::BIGINT AS n_tokens
        FROM c
        WHERE cum <= 15000 // 32 + CASE WHEN bkt < 15000 % 32 THEN 1 ELSE 0 END
    """, Plan(
    # the round-3 scale fix: per-bucket running sums — one hash exchange,
    # and NEVER a global ordering window (Exchange SinglePartition)
    shuffles=1, must=["Window"], must_not=["SinglePartition"],
))
def q_token_budget(spark, sf_dir):
    """Token-budget subsample: docs hash into 32 buckets; each bucket
    keeps its hash-ordered greedy prefix within its share of the 15k
    budget. No global ordering window anywhere in the plan (the round-3
    scale fix) — the only exchange is the bucket hash."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = token_budget_sample(docs, "text", "doc_id", budget=15_000)
    return out.select("doc_id", F.col("__n_tok").alias("n_tokens"))


@GATES.gate("hash_split", """
        WITH u AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15)
                      AS BIGINT)::DOUBLE / 1152921504606846976.0 AS r
          FROM documents)
        SELECT CASE WHEN r < 0.8 THEN 'train'
                    WHEN r < 0.9 THEN 'val'
                    ELSE 'test' END AS split,
               count(*)::BIGINT AS n_docs
        FROM u GROUP BY 1
    """, Plan(
    # map-side md5 split + count agg
    shuffles=1, must=["HashAggregate"], must_not=["SortMergeJoin"],
))
def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (md5 uniform vs cumulative
    weights) + per-split counts — map-only, rerun- and engine-stable
    (unlike randomSplit)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


@GATES.gate("temperature_resample", """
        WITH h AS (SELECT source, count(*)::DOUBLE AS cnt FROM documents GROUP BY source),
        t AS (SELECT sum(cnt) AS tot FROM h),
        w AS (SELECT source, cnt, pow(cnt / t.tot, 0.5) AS w, t.tot AS tot FROM h, t),
        r AS (
          SELECT source,
                 least(1.0, (w / sum(w) OVER ()) * 0.5 * tot / cnt) AS rate
          FROM w)
        SELECT d.doc_id, d.source
        FROM documents d JOIN r USING (source)
        WHERE CAST('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15) AS BIGINT)::DOUBLE
                / 1152921504606846976.0 < r.rate
    """, Plan(
    # doc side stays broadcast-joined to per-source rates; the only
    # SinglePartition window runs over one row PER SOURCE (dim-sized)
    shuffles=2,
    must=["BroadcastHashJoin"],
    must_not=["SortMergeJoin", "CartesianProduct"],
    bounded_window="window over one row PER SOURCE (dim-sized)",
))
def q_temperature_resample(spark, sf_dir):
    """mT5-style α-temperature mixture resampling (α=0.5, target 50%):
    per-source keep rates from one small histogram aggregate, md5-uniform
    keep decisions — the corpus never shuffles."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = temperature_resample(docs, "source", "doc_id", alpha=0.5, target_frac=0.5)
    return out.select("doc_id", "source")


@GATES.gate("quantile_normalize", """
        SELECT doc_id, source, n_chars::BIGINT AS score,
               round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars),
                     6) AS qnorm
        FROM documents
    """, Plan(shuffles=1, must=["Window"], must_not=["SinglePartition"]))
def q_quantile_normalize(spark, sf_dir):
    """Within-source quantile normalization (percent_rank) of document
    length — cross-source score comparability."""
    return quantile_normalize(_t(spark, sf_dir, "documents"))


@GATES.gate("balanced_sample", """
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST('0x' || substr(md5('balanced:' || doc_id::VARCHAR),
                                                1, 15) AS BIGINT)) AS rn
          FROM documents)
        WHERE rn <= 50
    """, Plan(shuffles=1, must=["WindowGroupLimit"], must_not=["SinglePartition"]))
def q_balanced_sample(spark, sf_dir):
    """Equal-allocation stratified sample: the 50 smallest-md5 docs per
    language — deterministic counter-skew sampling."""
    out = balanced_sample(_t(spark, sf_dir, "documents"), per_group=50)
    return out.select("doc_id", "lang")


@GATES.gate("curriculum_shards", (
    "WITH b AS (SELECT "
    + ", ".join(
        f"quantile_cont(n_chars::DOUBLE, {i / 10}) AS b{i}" for i in range(1, 10)
    )
    + " FROM documents) SELECT doc_id, n_chars::BIGINT AS difficulty, (1 + "
    + " + ".join(f"(n_chars::DOUBLE > b{i})::INT" for i in range(1, 10))
    + ")::BIGINT AS shard FROM documents, b"
), Plan(
    # bounds-broadcast decile assignment: NO ranking window anywhere
    shuffles=1, must=["BroadcastExchange"], must_not=["Window"],
))
def q_curriculum_shards(spark, sf_dir):
    """Difficulty-decile shard assignment via a bounds-broadcast (exact
    percentiles, 1-row agg) — ntile semantics without ntile's global
    single-partition window."""
    return curriculum_shards(_t(spark, sf_dir, "documents"))


@GATES.gate("corpus_diff", """
        WITH oldt AS (SELECT doc_id, md5(text) AS h FROM documents),
        newt AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h
          FROM documents WHERE doc_id % 17 <> 0
          UNION ALL
          SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 23 = 0),
        j AS (
          SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.h AS ho, n.h AS hn
          FROM oldt o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id)
        SELECT doc_id::BIGINT AS doc_id,
               CASE WHEN ho IS NULL THEN 'added'
                    WHEN hn IS NULL THEN 'removed'
                    ELSE 'changed' END AS status
        FROM j
        WHERE ho IS NULL OR hn IS NULL OR ho <> hn
    """, Plan(
    # full-outer digest join: SMJ is the right physical op (both sides
    # preserved); churn-only output
    shuffles=2, must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
))
def q_corpus_diff(spark, sf_dir):
    """Snapshot diff old vs new corpus version (drop doc_id%17, edit
    %13, add %23 under shifted ids): (id, added|removed|changed) via one
    full-outer join on md5 digests."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 17 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat("text", F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 23 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return snapshot_diff(docs, new.unionByName(added), "doc_id", ("text",))


@GATES.gate("robust_scale", """
        WITH s AS (
          SELECT source,
                 quantile_cont(n_chars::DOUBLE, 0.25) AS q1,
                 quantile_cont(n_chars::DOUBLE, 0.5) AS q2,
                 quantile_cont(n_chars::DOUBLE, 0.75) AS q3
          FROM documents GROUP BY source)
        SELECT d.doc_id, d.source, d.n_chars::BIGINT AS score,
               CASE WHEN (q3 - q1) > 0
                    THEN round((d.n_chars::DOUBLE - q2) / (q3 - q1), 6)
               END AS scaled
        FROM documents d JOIN s ON d.source = s.source
    """, Plan(
    # grouped-percentile stats rejoin as a dimension broadcast
    shuffles=1, must=["BroadcastHashJoin"], must_not=["SortMergeJoin", "Window"],
))
def q_robust_scale(spark, sf_dir):
    """Median/IQR scaling of document length within each source — the
    grouped-percentile bounds join back as a dimension broadcast."""
    return robust_scale(_t(spark, sf_dir, "documents"))


@GATES.gate("weighted_sample", """
        SELECT doc_id, n_chars,
               round(power(
                 (CAST('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 15)
                       AS BIGINT) + 1) / 1152921504606846976.0,
                 1.0 / n_chars), 9) AS sample_key
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
        ORDER BY sample_key DESC, doc_id
        LIMIT 25
    """, Plan(
    # A-Res top-k: per-partition heap + driver k-row reduce, NO shuffle
    shuffles=0, must=["TakeOrderedAndProject"], must_not=["Exchange"],
))
def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sample without replacement: 25 docs
    with inclusion probability proportional to length, via deterministic
    md5 uniforms and a TakeOrderedAndProject top-k (no global sort)."""
    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", 25).select(
        "doc_id", "n_chars", "sample_key"
    )


@GATES.gate("weighted_sample_group", """
        WITH s AS (
          SELECT lang, doc_id, n_chars,
                 round(power(
                   (CAST('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 15)
                         AS BIGINT) + 1) / 1152921504606846976.0,
                   1.0 / n_chars), 9) AS sample_key
          FROM documents
          WHERE n_chars IS NOT NULL AND n_chars > 0),
        r AS (
          SELECT *, row_number() OVER (
                   PARTITION BY lang ORDER BY sample_key DESC, doc_id) AS rn
          FROM s)
        SELECT lang, doc_id, n_chars, sample_key FROM r WHERE rn <= 10
    """, Plan(
    # per-stratum A-Res: ONE keyed window shuffle
    shuffles=1, must=["Window"], must_not=["SinglePartition"],
))
def q_weighted_sample_group(spark, sf_dir):
    """Per-language Efraimidis-Spirakis weighted sample (10 docs per
    stratum, weight = length): ranked window on the 9dp-rounded A-Res
    key with id tiebreak — total order, engine-portable."""
    out = weighted_sample_per_group(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", "n_chars", 10
    )
    return out.select("lang", "doc_id", "n_chars", "sample_key")


@GATES.gate("corpus_overlap", f"""
        WITH ta AS (
          SELECT DISTINCT CAST('0x' || substr(md5('kmv:' || substr(text, i, 5)),
                                              1, 15) AS BIGINT) AS h
          FROM (SELECT text,
                       unnest(generate_series(1, greatest(length(text) - 4, 1)))
                         AS i
                FROM documents WHERE doc_id % 2 = 0)),
        tb AS (
          SELECT DISTINCT CAST('0x' || substr(md5('kmv:' || substr(text, i, 5)),
                                              1, 15) AS BIGINT) AS h
          FROM (SELECT text,
                       unnest(generate_series(1, greatest(length(text) - 4, 1)))
                         AS i
                FROM documents WHERE doc_id % 3 = 0)),
        ka AS (SELECT h FROM ta ORDER BY h LIMIT 512),
        kb AS (SELECT h FROM tb ORDER BY h LIMIT 512),
        m AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
              ORDER BY h LIMIT 512),
        sa AS (SELECT count(*)::BIGINT AS na, max(h) AS mxa FROM ka),
        sb AS (SELECT count(*)::BIGINT AS nb, max(h) AS mxb FROM kb),
        sm AS (SELECT count(*)::BIGINT AS kk, max(h) AS uk FROM m),
        r AS (SELECT count(*)::BIGINT AS rho
              FROM m JOIN ka USING (h) JOIN kb USING (h))
        SELECT
          round(CASE WHEN na < 512 THEN na::DOUBLE
                     ELSE 511.0 * {_KMV_D} / mxa END, 4) AS est_distinct_a,
          round(CASE WHEN nb < 512 THEN nb::DOUBLE
                     ELSE 511.0 * {_KMV_D} / mxb END, 4) AS est_distinct_b,
          round(CASE WHEN kk < 512 THEN kk::DOUBLE
                     ELSE 511.0 * {_KMV_D} / uk END, 4) AS est_union,
          CASE WHEN kk = 0 THEN 0 ELSE
            floor((rho / kk) * CASE WHEN kk < 512 THEN kk::DOUBLE
                                    ELSE 511.0 * {_KMV_D} / uk END
                  * 10000)::BIGINT END AS est_intersection_e4,
          CASE WHEN kk = 0 THEN 0 ELSE floor((rho / kk) * 10000)::BIGINT END
            AS est_jaccard_e4
        FROM sa, sb, sm, r
    """, Plan(
    # KMV bottom-k per side (TakeOrdered, never a global sort) + <=2k-row
    # set algebra; the 1-row agg crossJoins are the intended assembly
    shuffles=12,
    must=["TakeOrderedAndProject"],
    must_not=["GlobalSort", "SortMergeJoin"],
))
def q_corpus_overlap(spark, sf_dir):
    """Cross-corpus distinct-shingle overlap WITHOUT comparing the
    corpora directly: each side reduces to a KMV bottom-k state (k=512)
    of its distinct 5-char shingle hashes in ONE scan, then |A|, |B|,
    |A∪B|, |A∩B| and Jaccard come from the two <=k-row states alone
    (Beyer et al. 2007 set algebra, sketches.kmv_set_estimates) — the
    pre-flight that tells you HOW MUCH two 100 TB crawls share before
    launching the expensive span-level decontamination pass. Sides here
    are overlapping document subsets (doc_id % 2 == 0 vs % 3 == 0), so
    the true intersection is large and the estimate is exercised off the
    degenerate corners."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def shingle_hashes(side):
        return side.select(
            F.explode(F.array_distinct(char_shingles("text", 5))).alias("sh")
        )

    a = shingle_hashes(docs.filter(F.col("doc_id") % 2 == 0))
    b = shingle_hashes(docs.filter(F.col("doc_id") % 3 == 0))
    return kmv_set_estimates(kmv_state(a, "sh", 512), kmv_state(b, "sh", 512), 512)


# corpus_overlap_by_domain: the same KMV replay PER source domain —
# row_number() per group bounds each state at k=128; groups present
# on one side only coalesce to 0 like the Spark left joins
@GATES.gate("corpus_overlap_by_domain", f"""
        WITH ta AS (
          SELECT DISTINCT source,
                 CAST('0x' || substr(md5('kmv:' || substr(text, i, 5)),
                                     1, 15) AS BIGINT) AS h
          FROM (SELECT source, text,
                       unnest(generate_series(1, greatest(length(text) - 4, 1)))
                         AS i
                FROM documents WHERE doc_id % 2 = 0)),
        tb AS (
          SELECT DISTINCT source,
                 CAST('0x' || substr(md5('kmv:' || substr(text, i, 5)),
                                     1, 15) AS BIGINT) AS h
          FROM (SELECT source, text,
                       unnest(generate_series(1, greatest(length(text) - 4, 1)))
                         AS i
                FROM documents WHERE doc_id % 3 = 0)),
        ka AS (SELECT source, h FROM (
                 SELECT source, h,
                        row_number() OVER (PARTITION BY source ORDER BY h) AS r
                 FROM ta) WHERE r <= 128),
        kb AS (SELECT source, h FROM (
                 SELECT source, h,
                        row_number() OVER (PARTITION BY source ORDER BY h) AS r
                 FROM tb) WHERE r <= 128),
        m AS (SELECT source, h FROM (
                SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h) AS r
                FROM (SELECT source, h FROM ka UNION SELECT source, h FROM kb))
              WHERE r <= 128),
        sa AS (SELECT source, count(*)::BIGINT AS na, max(h) AS mxa
               FROM ka GROUP BY source),
        sb AS (SELECT source, count(*)::BIGINT AS nb, max(h) AS mxb
               FROM kb GROUP BY source),
        sm AS (SELECT source, count(*)::BIGINT AS kk, max(h) AS uk
               FROM m GROUP BY source),
        r AS (SELECT m.source, count(*)::BIGINT AS rho
              FROM m JOIN ka USING (source, h) JOIN kb USING (source, h)
              GROUP BY m.source)
        SELECT
          sm.source AS source,
          round(CASE WHEN coalesce(na, 0) < 128 THEN coalesce(na, 0)::DOUBLE
                     ELSE 127.0 * {_KMV_D} / mxa END, 4) AS est_distinct_a,
          round(CASE WHEN coalesce(nb, 0) < 128 THEN coalesce(nb, 0)::DOUBLE
                     ELSE 127.0 * {_KMV_D} / mxb END, 4) AS est_distinct_b,
          round(CASE WHEN kk < 128 THEN kk::DOUBLE
                     ELSE 127.0 * {_KMV_D} / uk END, 4) AS est_union,
          floor((coalesce(rho, 0) / kk)
                * CASE WHEN kk < 128 THEN kk::DOUBLE
                       ELSE 127.0 * {_KMV_D} / uk END
                * 10000)::BIGINT AS est_intersection_e4,
          floor((coalesce(rho, 0) / kk) * 10000)::BIGINT AS est_jaccard_e4
        FROM sm LEFT JOIN sa USING (source) LEFT JOIN sb USING (source)
                LEFT JOIN r USING (source)
    """, Plan(
    # per-domain KMV: distinct keys on (source,h); the two-level ranked
    # prune bounds the per-group window at prune_buckets*k rows; all set
    # algebra runs on state-sized tables (broadcast joins, no SMJ)
    shuffles=28,
    must=["Window", "BroadcastHashJoin"],
    must_not=["GlobalSort", "SortMergeJoin", "CartesianProduct"],
))
def q_corpus_overlap_by_domain(spark, sf_dir):
    """corpus_overlap lifted to PER-DOMAIN sketches — the real pre-flight
    question is rarely "how much do two crawls share" but "which DOMAINS
    do they share": one scan per corpus builds a <=k-row KMV bottom-k
    state per source domain (sketches.kmv_state_by), then per-domain
    |A|, |B|, |A∪B|, |A∩B| and Jaccard come from the state tables alone
    (Beyer et al. 2007 set algebra per group). At 100 TB the estimate
    stage touches only k longs per domain; the corpora are scanned
    exactly once each. k=128 keeps most sf0.01 domains on the estimator
    path (not the exact below-k degenerate)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def shingle_hashes(side):
        return side.select(
            "source",
            F.explode(F.array_distinct(char_shingles("text", 5))).alias("sh"),
        )

    a = shingle_hashes(docs.filter(F.col("doc_id") % 2 == 0))
    b = shingle_hashes(docs.filter(F.col("doc_id") % 3 == 0))
    return kmv_set_estimates_by(
        kmv_state_by(a, ["source"], "sh", 128),
        kmv_state_by(b, ["source"], "sh", 128),
        ["source"],
        128,
    )
