"""Text and dedup gates: exact and fingerprint dedup, MinHash/SimHash LSH
near-dup pairs and their verification, clusters, decontamination,
repetition and quality heuristics, text statistics."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from bun_csv_spark.functions.text import (
    LANG_STOPWORDS,
    array_entropy,
    bpe_ish_token_count,
    build_inverted_index,
    char_bigram_lm_score,
    char_shingles,
    chunk_tokens,
    compression_ratio_udf,
    detect_language,
    fingerprint,
    nfc_normalize_udf,
    quality_features,
    redact_pii,
    strip_accents_udf,
    token_count,
    tokens,
)
from bun_csv_spark.operators.corpus import (
    boilerplate_prefix_groups,
    decontaminate,
    decontaminate_surgical,
    dedup_against,
    leakage_safe_split,
    quality_score_linear,
    repetition_table,
)
from bun_csv_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    dedup_fingerprint,
    duplicate_spans,
    editdist_verify,
    minhash_signatures,
    neardup_pairs_minhash,
    neardup_pairs_minhash_bucketed,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    remove_duplicate_spans,
    shared_substring_pairs,
    simhash64,
    simhash_pairs,
)
from bun_csv_spark.operators.util import ensure_parallelism

from gates.common import (
    Family,
    Plan,
    _BANDS_CAPPED_SQL,
    _bands_sql,
    _minhash_sql,
    _neardup_corpus,
    _NEARDUP_CORPUS_SQL,
    _t,
)


GATES = Family()


# DECOMPOSED on purpose (base char + combining mark, via escapes) so NFC
# actually composes and lengths change
_UNICODE_SUFFIXES = [
    " e\u0301clair",
    " u\u0308ber",
    " an\u0303o",
    " Ca\u0301fe\u0301",
]


def _simhash_sql(src: str = "documents", k: int = 4) -> str:
    """DuckDB twin of ``simhash64``: one md5 per character shingle, bits
    0-31 from hex chars 1-8, bits 32-63 from hex chars 9-16, +1/-1 votes
    per bit, majority sign packed back into a signed BIGINT (bit 63 is the
    sign bit, emitted as -2^63)."""
    return f"""
  WITH sh AS (
    SELECT doc_id, md5(substr(text, i, {k})) AS m
    FROM (SELECT doc_id, text,
                 unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS i
          FROM {src})),
  h AS (
    SELECT doc_id,
           CAST('0x' || substr(m, 1, 8) AS BIGINT) AS h1,
           CAST('0x' || substr(m, 9, 8) AS BIGINT) AS h2
    FROM sh),
  v AS (
    SELECT doc_id, b,
           sum(CASE WHEN ((CASE WHEN b < 32 THEN h1 ELSE h2 END) >> (b % 32)) & 1 = 1
                    THEN 1 ELSE -1 END) AS votes
    FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
    GROUP BY doc_id, b)
  SELECT doc_id,
         sum(CASE WHEN votes > 0 THEN
               CASE WHEN b = 63 THEN (-9223372036854775807 - 1)
                    ELSE (1::BIGINT << b) END
             ELSE 0 END)::BIGINT AS simhash
  FROM v GROUP BY doc_id
"""


def _stopword_sql_list(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])


def _lang_scores_sql() -> str:
    cases = []
    for lang in LANG_STOPWORDS:
        cases.append(
            f"CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN "
            f"({_stopword_sql_list(lang)})))::DOUBLE / len(t) ELSE 0.0 END AS s_{lang}"
        )
    return ",\n      ".join(cases)


# word tokens / strict n-grams exactly as the Spark expressions build
# them: split trimmed text on \s+, n-grams empty when tokens < n
_TOKS_SQL = r"""
        SELECT doc_id, text,
               list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> '') AS t
        FROM documents
    """


def _grams_sql(n: int, src: str = "t") -> str:
    return (
        f"CASE WHEN len({src}) >= {n} THEN "
        f"list_transform(generate_series(1, len({src}) - {n - 1}), "
        f"i -> array_to_string(list_slice({src}, i, i + {n - 1}), ' ')) "
        f"ELSE [] END"
    )


_dup_span_cte = """
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents),
        grams AS (
          SELECT doc_id, p AS pos,
                 md5(array_to_string(t[p:p+7], ' ')) AS h
          FROM toks, UNNEST(range(1, len(t) - 6)) AS u(p)
          WHERE len(t) >= 8),
        hot AS (SELECT h FROM grams GROUP BY h
                HAVING count(DISTINCT doc_id) >= 2),
        dup AS (SELECT g.doc_id, g.pos, g.pos + 7 AS e
                FROM grams g JOIN hot USING (h)),
        mrk AS (
          SELECT doc_id, pos, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS pme
          FROM dup),
        flg AS (
          SELECT doc_id, pos, e,
                 CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END AS nw
          FROM mrk),
        sp AS (
          SELECT doc_id, pos, e,
                 sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
          FROM flg),
        spans AS (
          SELECT doc_id, min(pos)::BIGINT AS span_start,
                 max(e)::BIGINT AS span_end, count(*)::BIGINT AS n_windows
          FROM sp GROUP BY doc_id, sid)
    """


@GATES.gate("dedup_exact", (
    "SELECT min(doc_id)::BIGINT AS doc_id, text FROM documents GROUP BY text"
), Plan(shuffles=1, must=["HashAggregate"]))
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: deterministic representative per distinct text."""
    return dedup_exact(_t(spark, sf_dir, "documents"), ["text"], "doc_id")


@GATES.gate("dedup_fingerprint", r"""
        SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
               min(doc_id)::BIGINT AS keep_id,
               count(*)::BIGINT AS n_dups
        FROM documents GROUP BY 1
    """)
def q_dedup_fingerprint(spark, sf_dir):
    """Fingerprint dedup on normalized-text md5."""
    # r18: no ensure_parallelism — md5+normalize is cheap per row and the
    # groupBy(fp) pays its own exchange anyway; the extra keyless exchange
    # cost 3.2x the whole query at sf0.1 (A/B best-of-5: 0.36 s direct vs
    # 1.15 s through repartition(32), 0.78 s hash-keyed).
    docs = _t(spark, sf_dir, "documents")
    return dedup_fingerprint(docs, "text", "doc_id")


@GATES.gate("text_quality", r"""
        WITH toks AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS t
          FROM documents)
        SELECT doc_id,
               length(text)::BIGINT AS n_chars_calc,
               len(t)::BIGINT AS n_tokens,
               CASE WHEN len(t) > 0 THEN
                 round(list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t), 4)
               ELSE 0.0 END AS mean_token_len,
               CASE WHEN length(text) > 0 THEN
                 round(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
                       / length(text), 4)
               ELSE 0.0 END AS punct_ratio,
               CASE WHEN length(text) > 0 THEN
                 round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                       / length(text), 4)
               ELSE 0.0 END AS digit_ratio,
               CASE WHEN len(t) > 0 THEN
                 round(len(list_filter(t, x -> lower(x) IN
                   (""" + _stopword_sql_list("en") + r""")))::DOUBLE / len(t), 4)
               ELSE 0.0 END AS stopword_ratio_en
        FROM toks
    """)
def q_text_quality(spark, sf_dir):
    """Quality scoring: length/tokens/punct/digit/stopword features."""
    # r18: keyed repartition — the regex feature battery is heavy enough
    # per row that spreading the single-row-group scan still wins, but the
    # hash partitioning on the near-unique doc_id skips the round-robin's
    # sortBeforeRepartition (A/B best-of-5: 0.77 s keyed vs 0.94 s round-
    # robin vs 1.00 s unpartitioned).
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_chars_calc"].alias("n_chars_calc"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["mean_token_len"], 4).alias("mean_token_len"),
        F.round(feats["punct_ratio"], 4).alias("punct_ratio"),
        F.round(feats["digit_ratio"], 4).alias("digit_ratio"),
        F.round(feats["stopword_ratio_en"], 4).alias("stopword_ratio_en"),
    )


@GATES.gate("token_counts", r"""
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_pieces
        FROM documents
    """)
def q_token_counts(spark, sf_dir):
    """Token counting: whitespace + BPE-ish word-piece proxy."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_pieces"),
    )


_LANG_DETECT_SQL = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '') AS t
          FROM documents),
        sc AS (
          SELECT doc_id,
      """ + _lang_scores_sql() + r"""
          FROM toks),
        u AS (
          SELECT doc_id, 'en' AS lang, s_en AS score FROM sc
          UNION ALL SELECT doc_id, 'de', s_de FROM sc
          UNION ALL SELECT doc_id, 'fr', s_fr FROM sc
          UNION ALL SELECT doc_id, 'es', s_es FROM sc)
        SELECT doc_id,
               CASE WHEN max(score) > 0
                    THEN (max(struct_pack(s := score, l := lang))).l
                    ELSE 'und' END AS lang_pred
        FROM u GROUP BY doc_id
    """


@GATES.gate("lang_detect", _LANG_DETECT_SQL)
def q_lang_detect(spark, sf_dir):
    """Language ID by stopword vote (deterministic, no external model)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", detect_language("text").alias("lang_pred"))


@GATES.gate("doc_fingerprint", r"""
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM documents
    """)
def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over normalized text."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


@GATES.gate("minhash_signatures", (
    "WITH sig AS (" + _minhash_sql("documents") + ") SELECT * FROM sig"
), Plan(
    # keyed repartition only
    shuffles=1, must_not=["SortMergeJoin"],
))
def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (8 hashes, 5-char shingles, md5-based)."""
    return minhash_signatures(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n_hashes=8, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )


_NEARDUP_PAIRS_SQL = (
    "WITH " + _NEARDUP_CORPUS_SQL + ", sig AS ("
    + _minhash_sql("corpus")
    + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
    + """
        SELECT DISTINCT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b
        FROM bands_c a JOIN bands_c b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        """
)


@GATES.gate("neardup_pairs", _NEARDUP_PAIRS_SQL)
def q_neardup_pairs(spark, sf_dir):
    """LSH-banded near-duplicate candidate pairs over a corpus with
    planted near-dups (4 bands × 2 rows)."""
    return neardup_pairs_minhash(
        _neardup_corpus(spark, sf_dir), "doc_id", "text",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )


# exact Levenshtein over the same candidate set; sim replays the
# identical double op order (1 - lev/len), rounded 6dp
@GATES.gate("neardup_editdist", (
    "WITH " + _NEARDUP_CORPUS_SQL + ", sig AS ("
    + _minhash_sql("corpus")
    + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
    + """
        , pairs AS (
          SELECT DISTINCT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        SELECT p.id_a, p.id_b,
               levenshtein(ca.text, cb.text)::BIGINT AS lev,
               round(CASE WHEN greatest(length(ca.text), length(cb.text)) > 0
                          THEN 1.0 - levenshtein(ca.text, cb.text)
                                     / greatest(length(ca.text), length(cb.text))
                          ELSE 1.0 END, 6) AS sim
        FROM pairs p
        JOIN corpus ca ON ca.doc_id = p.id_a
        JOIN corpus cb ON cb.doc_id = p.id_b
        """
))
def q_neardup_editdist(spark, sf_dir):
    """Exact Levenshtein verification over the LSH candidate pairs —
    banding proposes, edit distance disposes (dedup.editdist_verify).
    Cost is per-candidate, never all-pairs."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_minhash(
        corpus, "doc_id", "text", n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )
    return editdist_verify(corpus, pairs, "doc_id", "text")


# the bucketed-materialization path must produce the identical set
@GATES.gate("neardup_pairs_bucketed", _NEARDUP_PAIRS_SQL)
def q_neardup_pairs_bucketed(spark, sf_dir):
    """Same candidate set as neardup_pairs, routed through the
    MATERIALIZED banding table bucketed by (band, bucket) — the
    Exchange-free recurring-dedup path (dedup.py:215). Proves the scale
    variant computes the identical result, not just a nicer plan; the
    oracle is neardup_pairs' oracle verbatim."""
    return neardup_pairs_minhash_bucketed(
        _neardup_corpus(spark, sf_dir), "doc_id", "text",
        table="gate_neardup_bands",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )


@GATES.gate("dedup_clusters", (
    "WITH RECURSIVE " + _NEARDUP_CORPUS_SQL.replace("corpus AS", "corpus AS", 1)
    + ", sig AS (" + _minhash_sql("corpus")
    + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
    + ", pairs AS ("
    + """
          SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        sym AS (
          SELECT ida AS a, idb AS b FROM pairs
          UNION
          SELECT idb, ida FROM pairs),
        reach(node, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b)
        SELECT node::BIGINT AS node, min(r)::BIGINT AS label
        FROM reach GROUP BY node
        """
))
def q_dedup_clusters(spark, sf_dir):
    """Dedup clusters: connected components of the LSH near-dup graph —
    every doc labeled with its component's canonical (min) id. Oracle:
    recursive reachability CTE in DuckDB."""
    pairs = neardup_pairs_minhash(
        _neardup_corpus(spark, sf_dir), "doc_id", "text",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )
    return connected_components(pairs).select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )


@GATES.gate("dedup_apply", (
    "WITH RECURSIVE " + _NEARDUP_CORPUS_SQL
    + ", sig AS (" + _minhash_sql("corpus")
    + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
    + ", pairs AS ("
    + """
          SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        grams AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(t) >= 3 THEN
                     list_transform(generate_series(1, len(t) - 2),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' '))
                   ELSE [array_to_string(t, ' ')] END) AS g
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS t
                FROM corpus)),
        vpairs AS (
          SELECT p.ida, p.idb
          FROM pairs p
          JOIN grams ga ON ga.doc_id = p.ida
          JOIN grams gb ON gb.doc_id = p.idb
          WHERE round(len(list_intersect(ga.g, gb.g))::DOUBLE /
                      len(list_distinct(list_concat(ga.g, gb.g))), 6) >= 0.5),
        sym AS (
          SELECT ida AS a, idb AS b FROM vpairs
          UNION
          SELECT idb, ida FROM vpairs),
        reach(node, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b),
        labels AS (
          SELECT node, min(r) AS label FROM reach GROUP BY node)
        SELECT c.doc_id::BIGINT AS doc_id
        FROM corpus c
        WHERE NOT EXISTS (SELECT 1 FROM labels l
                          WHERE l.node = c.doc_id AND l.node <> l.label)
        """
), Plan(
    # corpus + final anti-join probe
    fact_scans={"documents": 2},
))
def q_dedup_apply(spark, sf_dir):
    """END-TO-END corpus dedup: LSH candidate pairs -> EXACT word-3-gram
    Jaccard verification (>= 0.5) -> connected components -> anti-join,
    keeping only each cluster's canonical (min-id) member plus all
    untouched singletons — the complete "dedup this corpus" pipeline a
    training run actually executes. LSH candidates are allowed false
    positives and transitive chaining amplifies them (round-3 ADVICE), so
    the exact-verification stage between candidate generation and
    clustering is load-bearing, not optional."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_minhash(
        corpus, "doc_id", "text",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    )
    verified = ngram_jaccard_pairs(corpus, pairs, "doc_id", "text", n=3).filter(
        F.round("jaccard", 6) >= 0.5
    )
    labels = connected_components(verified)
    drop = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    return corpus.join(drop, "doc_id", "left_anti").select("doc_id")


@GATES.gate("ngram_jaccard", (
    "WITH " + _NEARDUP_CORPUS_SQL + ", sig AS ("
    + _minhash_sql("corpus")
    + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
    + ", pairs AS ("
    + """
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands_c a JOIN bands_c b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), grams AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(t) >= 3 THEN
                     list_transform(generate_series(1, len(t) - 2),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' '))
                   ELSE [array_to_string(t, ' ')] END) AS g
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS t
                FROM corpus))
        SELECT p.id_a::BIGINT AS id_a, p.id_b::BIGINT AS id_b,
               round(len(list_intersect(ga.g, gb.g))::DOUBLE /
                     len(list_distinct(list_concat(ga.g, gb.g))), 6) AS jaccard
        FROM pairs p
        JOIN grams ga ON ga.doc_id = p.id_a
        JOIN grams gb ON gb.doc_id = p.id_b
        """
))
def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard over the LSH candidate pairs."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_minhash(
        corpus, "doc_id", "text", n_hashes=8, bands=4, shingle_k=5,
        # r19: the other verify gates already spread the CPU-bound
        # shingle+fold banding (r18 A/B: 3.78 s unspread vs 0.53 s);
        # this gate had been paying the single-task fold
        repartition=spark.sparkContext.defaultParallelism,
    )
    out = ngram_jaccard_pairs(corpus, pairs, "doc_id", "text", n=3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# DuckDB's native Unicode implementation vs Python unicodedata — the
# suffixes are rebuilt with chr() (769=U+0301 acute, 776=U+0308
# diaeresis, 771=U+0303 tilde), decomposed exactly as the Spark side
@GATES.gate("text_normalize", """
        WITH u AS (
          SELECT doc_id,
                 text || CASE (doc_id % 4)
                   WHEN 0 THEN ' e' || chr(769) || 'clair'
                   WHEN 1 THEN ' u' || chr(776) || 'ber'
                   WHEN 2 THEN ' an' || chr(771) || 'o'
                   ELSE ' Ca' || chr(769) || 'fe' || chr(769)
                 END AS raw
          FROM documents)
        SELECT doc_id,
               length(raw)::BIGINT AS raw_len,
               nfc_normalize(raw) AS nfc,
               length(nfc_normalize(raw))::BIGINT AS nfc_len,
               strip_accents(raw) AS stripped
        FROM u
    """)
def q_text_normalize(spark, sf_dir):
    """Unicode normalization pipeline step: append a per-doc DECOMPOSED
    combining-mark suffix (the docs corpus is pure ASCII), then NFC
    (composes — shorter) and accent-fold (NFD + drop Mn). Arrow-batched
    pandas UDFs (Spark has no normalization builtin); the oracle uses
    DuckDB's native nfc_normalize / strip_accents over the identical
    chr()-built suffixes — two independent Unicode implementations must
    agree byte-for-byte."""
    docs = _t(spark, sf_dir, "documents")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _UNICODE_SUFFIXES]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    raw = F.concat(F.col("text"), suffix)
    return docs.select(
        "doc_id",
        F.length(raw).cast("long").alias("raw_len"),
        nfc_normalize_udf(raw).alias("nfc"),
        F.length(nfc_normalize_udf(raw)).cast("long").alias("nfc_len"),
        strip_accents_udf(raw).alias("stripped"),
    )


# zlib: not SQL-expressible — the driver records a rows-only check
@GATES.gate("compression_ratio", None)
def q_compression_ratio(spark, sf_dir):
    """zlib compression-ratio quality signal per doc (CCNet/RedPajama
    heuristic: templated text collapses, prose doesn't). Deterministic
    for a fixed zlib level, but NOT SQL-expressible — intentionally has
    no oracle_sql entry (rows-only gate); the separation property is
    pytest-asserted instead."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", compression_ratio_udf("text").alias("compress_ratio")
    )


@GATES.gate("tfidf", r"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS token
          FROM documents),
        tf AS (
          SELECT doc_id, token, count(*)::BIGINT AS tf
          FROM tok GROUP BY doc_id, token),
        doc_len AS (
          SELECT doc_id, count(*)::BIGINT AS n_tok FROM tok GROUP BY doc_id),
        dfc AS (
          SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 round((tf.tf / doc_len.n_tok) * ln(n.n_docs / dfc.df), 6) AS tfidf
          FROM tf
          JOIN doc_len ON tf.doc_id = doc_len.doc_id
          JOIN dfc ON tf.token = dfc.token, n)
        SELECT doc_id, token, tfidf, rnk FROM (
          SELECT doc_id, token, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, token) AS rnk
          FROM scored)
        WHERE rnk <= 3
    """, Plan(
    # corpus-sized doc_len/df_counts must not be hinted
    hints=0,
))
def q_tfidf(spark, sf_dir):
    """TF-IDF scoring: term frequency within doc × inverse document
    frequency across the corpus — the canonical text-representation
    pipeline, shaped for 100 TB: document length is a window sum over the
    per-(doc,token) counts (no corpus-sized join at all), and the
    vocabulary join is left to AQE (it broadcasts only if genuinely
    small). n_docs is the one driver scalar — a count-star parquet
    metadata read."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    w_doc = Window.partitionBy("doc_id")
    tf = tf.withColumn("n_tok", F.sum("tf").over(w_doc))
    df_counts = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_counts, "token").select(
        "doc_id",
        "token",
        F.round(
            (F.col("tf") / F.col("n_tok"))
            * F.log(F.lit(float(n_docs)) / F.col("df")),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@GATES.gate("text_chunks", r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        d AS (
          SELECT doc_id, toks,
                 greatest(ceil((len(toks) - 8) / 56.0)::INT, 1) AS n_chunks
          FROM t),
        f AS (SELECT doc_id, toks,
                     unnest(generate_series(0, n_chunks - 1)) AS i FROM d)
        SELECT doc_id, i::BIGINT AS chunk_idx,
               array_to_string(list_slice(toks, i * 56 + 1, i * 56 + 64), ' ')
                 AS chunk_text,
               least(len(toks) - i * 56, 64)::BIGINT AS n_tokens
        FROM f
    """)
def q_text_chunks(spark, sf_dir):
    """Long-document chunking for fixed-context training: overlapping
    64-token windows (stride 56), built as array expressions and exploded
    once at the end."""
    docs = _t(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id", F.explode(chunk_tokens("text", max_tokens=64, overlap=8)).alias("c")
    )
    return ch.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


@GATES.gate("pii_redact", r"""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN
                   text || ' contact user' || doc_id || '@example.com from 10.0.'
                        || (doc_id % 200) || '.7 or +1 555 010 '
                        || (doc_id % 9000 + 1000)
                 ELSE text END AS b
          FROM documents)
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(b,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                 '\+\d[\d -]{7,}\d', '<PHONE>', 'g') AS clean
        FROM base
    """)
def q_pii_redact(spark, sf_dir):
    """PII scrubbing (emails / IPv4 / phone numbers -> typed tokens) over
    text with deterministically planted PII — chained regexp_replace,
    engine-portable patterns."""
    docs = _t(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 or +1 555 010 "),
            (F.col("doc_id") % 9000 + 1000).cast("string"),
        ),
    ).otherwise(F.col("text"))
    return docs.select("doc_id", redact_pii(planted).alias("clean"))


@GATES.gate("bm25", r"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS token
          FROM documents),
        tf AS (
          SELECT doc_id, token, count(*)::BIGINT AS tf
          FROM tok GROUP BY doc_id, token),
        dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
        dfc AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        t AS (SELECT sum(tf)::DOUBLE / (SELECT n_docs FROM n) AS avgdl FROM tf),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 round(ln((n.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / t.avgdl)),
                       6) AS bm25
          FROM tf
          JOIN dl ON tf.doc_id = dl.doc_id
          JOIN dfc ON tf.token = dfc.token, n, t)
        SELECT doc_id, token, bm25, rnk FROM (
          SELECT doc_id, token, bm25,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY bm25 DESC, token) AS rnk
          FROM scored)
        WHERE rnk <= 3
    """, Plan(bounded_window="idf table bounded by vocab term budget"))
def q_bm25(spark, sf_dir):
    """BM25 ranking (k1=1.2, b=0.75) — the retrieval-grade upgrade of
    TF-IDF, same 100 TB shape: doc length as a window sum, avgdl as a
    broadcast 1-row aggregate, vocabulary join AQE-decided."""
    k1, b = 1.2, 0.75
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
    totals = tf.agg((F.sum("tf") / F.lit(float(n_docs))).alias("avgdl"))
    dfc = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    # literal 2.2, not k1+1: the float sum 1.2+1 need not equal the SQL
    # literal 2.2 bit-for-bit, and the oracle must mirror exactly
    score = F.round(idf * (F.col("tf") * F.lit(2.2)) / denom, 6)
    scored = (
        tf.join(dfc, "token")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", "token", score.alias("bm25"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("bm25").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@GATES.gate("top_tokens", r"""
        SELECT token, count(*)::BIGINT AS n FROM (
          SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS token
          FROM documents)
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 50
    """)
def q_top_tokens(spark, sf_dir):
    """Corpus-level vocabulary: top-50 tokens by frequency (explode+agg —
    the canonical scale pattern for token statistics)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


@GATES.gate("quality_filter", r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS t
          FROM documents),
        m AS (
          SELECT doc_id,
                 len(t)::BIGINT AS n_tokens,
                 CASE WHEN len(t) > 0 THEN
                   list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)
                 ELSE 0.0 END AS mtl,
                 CASE WHEN len(t) > 0 THEN
                   len(list_filter(t, x -> lower(x) IN
                     (""" + _stopword_sql_list("en") + r""")))::DOUBLE / len(t)
                 ELSE 0.0 END AS swr
          FROM toks)
        SELECT doc_id, n_tokens,
               round(mtl, 4) AS mean_token_len,
               round(swr, 4) AS stopword_ratio_en
        FROM m
        WHERE n_tokens >= 20 AND swr <= 0.5 AND mtl >= 3.0 AND mtl <= 12.0
    """)
def q_quality_filter(spark, sf_dir):
    """Quality-gate filter: the composite keep/drop decision a training
    pipeline applies (filters on UNROUNDED metrics; rounded for display)."""
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    scored = docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_token_len"].alias("mtl"),
        feats["stopword_ratio_en"].alias("swr"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= 20) & (F.col("swr") <= 0.5)
        & (F.col("mtl") >= 3.0) & (F.col("mtl") <= 12.0)
    )
    return kept.select(
        "doc_id",
        "n_tokens",
        F.round("mtl", 4).alias("mean_token_len"),
        F.round("swr", 4).alias("stopword_ratio_en"),
    )


@GATES.gate("simhash", _simhash_sql("documents"))
def q_simhash(spark, sf_dir):
    """SimHash fingerprints — md5-derived 64-bit shingle hashes, so the
    DuckDB oracle replays the exact bit pattern (_simhash_sql)."""
    # r18: keyed spread — the shingle+fold battery is the heaviest pure
    # map in the registry and the single-file scan ran it on one core
    # (A/B best-of-3 noop-forced at sf0.1: 17.6 s -> 3.5 s spread);
    # no-op above 128 MB of input
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    return docs.select("doc_id", simhash64("text").alias("simhash"))


@GATES.gate("repetition_filter", (
    "WITH toks AS (" + _TOKS_SQL + "),"
    + f"""
        g AS (
          SELECT doc_id, t,
                 {_grams_sql(2)} AS g2,
                 {_grams_sql(3)} AS g3
          FROM toks),
        m AS (
          SELECT doc_id,
                 CASE WHEN len(t) > 0
                      THEN 1.0 - len(list_distinct(t))::DOUBLE / len(t)
                      ELSE 0.0 END AS dup_word_frac,
                 CASE WHEN len(g2) > 0
                      THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2)
                      ELSE 0.0 END AS dup_2gram_frac,
                 CASE WHEN len(g3) > 0
                      THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3)
                      ELSE 0.0 END AS dup_3gram_frac,
                 CASE WHEN len(g2) > 0
                      THEN list_max(list_transform(list_distinct(g2),
                             d -> len(list_filter(g2, x -> x = d))))::DOUBLE
                           / len(g2)
                      ELSE 0.0 END AS top_2gram_frac
          FROM g)
        SELECT doc_id,
               round(dup_word_frac, 6) AS dup_word_frac,
               round(dup_2gram_frac, 6) AS dup_2gram_frac,
               round(dup_3gram_frac, 6) AS dup_3gram_frac,
               round(top_2gram_frac, 6) AS top_2gram_frac,
               (dup_2gram_frac <= 0.04 AND top_2gram_frac <= 0.05) AS keep
        FROM m
        """
))
def q_repetition_filter(spark, sf_dir):
    """Gopher/MassiveText repetition heuristics per document: duplicate
    word / 2-gram / 3-gram fractions, top-2-gram share, and the combined
    keep flag. Pure Column expressions — zero shuffles, linear scan; the
    n-gram arrays are staged once (lambda exprs don't CSE)."""
    # r18: keyed spread — the n-gram repetition battery on a single-file
    # scan ran one-core (A/B at sf0.1: 6.9 -> 0.86 s); no-op at scale
    return repetition_table(
        ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    )


@GATES.gate("decontamination", (
    "WITH toks AS (" + _TOKS_SQL + "),"
    + f"""
        g AS (SELECT doc_id, list_distinct({_grams_sql(5)}) AS g5 FROM toks),
        ev AS (SELECT DISTINCT unnest(g5) AS gram FROM g WHERE doc_id % 19 = 0),
        tg AS (SELECT doc_id, unnest(g5) AS gram FROM g WHERE doc_id % 19 <> 0),
        hits AS (
          SELECT tg.doc_id, count(*) AS n_hits
          FROM tg JOIN ev USING (gram) GROUP BY tg.doc_id)
        SELECT d.doc_id,
               coalesce(h.n_hits, 0)::BIGINT AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        WHERE d.doc_id % 19 <> 0
        """
))
def q_decontamination(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    5-gram with the eval split (doc_id % 19 == 0 plays the benchmark
    suite). Eval grams broadcast (bounded by the benchmark, not the
    corpus); training side is one explode + semi-join + count."""
    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 19 == 0)
    train = docs.filter(F.col("doc_id") % 19 != 0)
    return decontaminate(train, eval_docs, n=5)


@GATES.gate("decontamination_surgical", (
    "WITH toks AS (" + _TOKS_SQL + "),"
    + f"""
        g AS (SELECT doc_id, t, {_grams_sql(5)} AS g5 FROM toks),
        ev AS (SELECT DISTINCT unnest(g5) AS gram FROM g WHERE doc_id % 19 = 0),
        tg AS (
          SELECT doc_id, i AS strt,
                 array_to_string(list_slice(t, i, i + 4), ' ') AS gram
          FROM (SELECT doc_id, t FROM g WHERE doc_id % 19 <> 0),
               unnest(generate_series(1, greatest(len(t) - 4, 0))) AS u(i)),
        hits AS (SELECT DISTINCT doc_id, strt FROM tg JOIN ev USING (gram)),
        covered AS (
          SELECT DISTINCT doc_id, strt + o AS pos
          FROM hits, unnest(generate_series(0, 4)) AS v(o)),
        tok_rows AS (
          SELECT doc_id, i AS pos, t[i] AS tok
          FROM (SELECT doc_id, t FROM g WHERE doc_id % 19 <> 0),
               unnest(generate_series(1, len(t))) AS w(i)),
        clean AS (
          SELECT tr.doc_id, tr.pos, tr.tok FROM tok_rows tr
          WHERE NOT EXISTS (SELECT 1 FROM covered c
                            WHERE c.doc_id = tr.doc_id AND c.pos = tr.pos)),
        rebuilt AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_kept
          FROM clean GROUP BY doc_id)
        SELECT g.doc_id,
               coalesce(r.clean_text, '') AS clean_text,
               coalesce(r.n_kept, 0)::BIGINT AS n_tokens_kept,
               (len(g.t) - coalesce(r.n_kept, 0))::BIGINT AS n_tokens_cut
        FROM g LEFT JOIN rebuilt r ON r.doc_id = g.doc_id
        WHERE g.doc_id % 19 <> 0
        """
), Plan(
    # eval grams broadcast against doc grams — keyed shuffles only
    shuffles=3,
    must=["BroadcastHashJoin"],
    must_not=["SortMergeJoin", "CartesianProduct"],
))
def q_decontamination_surgical(spark, sf_dir):
    """Surgical decontamination: cut the eval-overlapping 5-gram spans,
    keep the clean remainder (vs q_decontamination's doc-level flag).
    Same eval split (doc_id % 19)."""
    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 19 == 0)
    train = docs.filter(F.col("doc_id") % 19 != 0)
    return decontaminate_surgical(train, eval_docs, n=5)


@GATES.gate("cross_corpus_dedup", r"""
        WITH fp AS (
          SELECT doc_id, lang, source,
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
          FROM documents),
        snap AS (SELECT DISTINCT f FROM fp WHERE doc_id % 4 = 0)
        SELECT doc_id, lang, source FROM fp
        WHERE f NOT IN (SELECT f FROM snap)
    """)
def q_cross_corpus_dedup(spark, sf_dir):
    """Cross-corpus dedup: drop docs whose normalized fingerprint appears
    in the previous snapshot (doc_id % 4 == 0 plays the old crawl). LEFT
    ANTI join on md5 — one shuffle on a 32-byte key."""
    docs = _t(spark, sf_dir, "documents")
    snapshot = docs.filter(F.col("doc_id") % 4 == 0).select("text")
    return dedup_against(docs, snapshot).select("doc_id", "lang", "source")


@GATES.gate("char_entropy", """
        WITH ch AS (
          SELECT doc_id, substr(text, i, 1) AS c
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1, greatest(length(text), 1))) AS i
                FROM documents)),
        cnt AS (SELECT doc_id, c, count(*)::DOUBLE AS k FROM ch GROUP BY doc_id, c),
        n AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY doc_id)
        SELECT cnt.doc_id,
               round(-sum((k / n.n) * log2(k / n.n)), 6) AS entropy
        FROM cnt JOIN n USING (doc_id) GROUP BY cnt.doc_id
    """, Plan(
    # per-row fold: zero shuffles
    # r18: the keyed ensure_parallelism exchange spreads the one-core
    # entropy fold on the single-file local scan (3.9 -> 0.46 s); the
    # compute itself stays a pure map — pin 1 exchange max, no shuffle
    # joins
    shuffles=1, must_not=["SortMergeJoin", "CartesianProduct"],
))
def q_char_entropy(spark, sf_dir):
    """Shannon char entropy per doc (low-entropy spam tell) — pure
    per-row fold, zero shuffles. The char array is STAGED behind a
    projection so the O(u·n) count fold scans a materialized array
    instead of re-deriving it per distinct char (lambda-CSE gap)."""
    # r18: keyed spread — the O(u*n) entropy fold on a single-file scan
    # ran one-core (A/B at sf0.1: 3.9 -> 0.46 s); no-op at scale
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    staged = docs.select(
        "doc_id", char_shingles(F.col("text"), 1).alias("__chars")
    )
    return staged.select(
        "doc_id", F.round(array_entropy(F.col("__chars")), 6).alias("entropy")
    )


@GATES.gate("boilerplate_prefix", (
    "WITH " + _NEARDUP_CORPUS_SQL + """
        SELECT md5(substr(text, 1, 64)) AS prefix_fp,
               count(*)::BIGINT AS n_docs, min(doc_id)::BIGINT AS keep_id
        FROM corpus GROUP BY 1 HAVING count(*) >= 2
    """
), Plan(shuffles=1, must=["HashAggregate"], must_not=["SortMergeJoin"]))
def q_boilerplate_prefix(spark, sf_dir):
    """Template/boilerplate detection: groups of 2+ docs sharing an
    identical 64-char prefix. Corpus = documents + suffix-modified
    copies (same trick as the near-dup gates), so prefix collisions
    genuinely occur; one shuffle on the md5 key."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the end")).alias("text"),
    )
    return boilerplate_prefix_groups(docs.unionAll(copies), "doc_id", "text", 64)


@GATES.gate("quality_score", r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS t
          FROM documents),
        m AS (
          SELECT doc_id,
                 len(t)::DOUBLE AS n_tokens,
                 CASE WHEN len(t) > 0 THEN
                   list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)
                 ELSE 0.0 END AS mtl,
                 CASE WHEN len(t) > 0 THEN
                   len(list_filter(t, x -> lower(x) IN
                     (""" + _stopword_sql_list("en") + r""")))::DOUBLE / len(t)
                 ELSE 0.0 END AS swr
          FROM toks)
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(-1.0 + n_tokens * 0.02
                                        + mtl * 0.3 + swr * 1.5))), 6)
                 AS quality_score
        FROM m
    """)
def q_quality_score(spark, sf_dir):
    """Model-based quality scoring: sigmoid of a fixed linear model over
    the quality-feature set (the trained-classifier plumbing with
    documented weights) — pure map, zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score_linear("text"), 6).alias("quality_score")
    )


@GATES.gate("substring_dedup", (
    "WITH " + _NEARDUP_CORPUS_SQL + """,
        w AS (
          SELECT doc_id, md5(substr(text, i, 50)) AS h
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1, length(text) - 49)) AS i
                FROM corpus WHERE length(text) >= 50)
          WHERE CAST('0x' || substr(md5(substr(text, i, 8)), 1, 8) AS BIGINT)
                  % 10 = 0),
        c AS (
          SELECT doc_id, h FROM (
            SELECT *, count(*) OVER (PARTITION BY h) AS hc FROM w)
          WHERE hc <= 64)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
        FROM c a JOIN c b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """
), Plan(
    # substring anchors: window cap + equi-join + count agg — never n²
    # r18: +2 for the keyed ensure_parallelism spread of the single-file
    # local scan (once per union branch of the self-join; no-op >=128 MB)
    shuffles=7, must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
))
def q_substring_dedup(spark, sf_dir):
    """Exact shared-substring dedup (Lee et al. suffix-array
    approximation): strided 50-char anchor windows, md5 equi-join with the
    ubiquity cap. Corpus = documents + suffix-modified copies so verbatim
    long spans genuinely exist across distinct ids."""
    # r18: keyed spread of the anchor-window build (3.1 -> 1.3 s at sf0.1)
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), key="doc_id"
    ).select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the end")).alias("text"),
    )
    return shared_substring_pairs(
        docs.unionAll(copies), "doc_id", "text", window=50, stride=10
    )


@GATES.gate("simhash_pairs", (
    "WITH " + _NEARDUP_CORPUS_SQL
    + ", sims AS (" + _simhash_sql("corpus") + "), "
    + """
        hexs AS (
          SELECT doc_id, simhash,
                 lpad(lower(to_hex(simhash)), 16, '0') AS hx
          FROM sims),
        bands AS (
          SELECT doc_id, simhash, b, substr(hx, 1 + 4 * b, 4) AS bucket
          FROM hexs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
        capped AS (
          SELECT doc_id, simhash, b, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY b, bucket) AS bsz
            FROM bands)
          WHERE bsz <= 64),
        pairs AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                          x.simhash AS sa, y.simhash AS sb
          FROM capped x JOIN capped y
            ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
        SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
               bit_count(xor(sa, sb))::BIGINT AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= 6
        """
), Plan(
    # r18: +1 for the keyed ensure_parallelism spread of the corpus scan
    # (no-op at scale); the capped banded pairs evaluate the banding once
    shuffles=3, must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
))
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via 16-bit pigeonhole banding + exact
    Hamming verification (bit_count of XOR <= 6) over the planted
    near-dup corpus."""
    # r18: keyed spread of the corpus before the simhash64 map (same
    # rationale as q_simhash: 17.6 -> 3.5 s for the fingerprint battery)
    return simhash_pairs(
        ensure_parallelism(_neardup_corpus(spark, sf_dir), key="doc_id"),
        "doc_id", "text", shingle_k=4, max_hamming=6
    )


@GATES.gate("ngram_containment", (
    "WITH " + _NEARDUP_CORPUS_SQL + ", sig AS ("
    + _minhash_sql("corpus")
    + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
    + ", pairs AS ("
    + r"""
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands_c a JOIN bands_c b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), grams AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(t) >= 3 THEN
                     list_transform(generate_series(1, len(t) - 2),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' '))
                   ELSE [array_to_string(t, ' ')] END) AS g
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x <> '') AS t
                FROM corpus))
        SELECT p.id_a::BIGINT AS id_a, p.id_b::BIGINT AS id_b,
               round(CASE WHEN len(ga.g) > 0 THEN
                       len(list_intersect(ga.g, gb.g))::DOUBLE / len(ga.g)
                     ELSE 0.0 END, 6) AS containment_a_in_b,
               round(CASE WHEN len(gb.g) > 0 THEN
                       len(list_intersect(ga.g, gb.g))::DOUBLE / len(gb.g)
                     ELSE 0.0 END, 6) AS containment_b_in_a
        FROM pairs p
        JOIN grams ga ON ga.doc_id = p.id_a
        JOIN grams gb ON gb.doc_id = p.id_b
        """
), Plan(
    # r18: +1 pinned repartition of the candidate-pair ids before the
    # payload joins (_spread_for_cpu — AQE's bytes-based coalescing ran
    # the set-intersection verify single-core otherwise)
    shuffles=4, must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
))
def q_ngram_containment(spark, sf_dir):
    """Asymmetric n-gram containment (|A∩B|/|A| and /|B|) over the LSH
    candidate pairs — the sub-document-duplication metric symmetric
    Jaccard misses."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_minhash(
        corpus, "doc_id", "text", n_hashes=8, bands=4, shingle_k=5,
        # r19: spread the CPU-bound banding like every other verify gate
        # (r18 A/B: 3.78 s unspread vs 0.53 s single-task fold)
        repartition=spark.sparkContext.defaultParallelism,
    )
    return ngram_containment_pairs(corpus, pairs, "doc_id", "text", n=3)


@GATES.gate("lang_confusion", (
    "WITH pred AS ("
    + _LANG_DETECT_SQL
    + """)
        SELECT d.lang, p.lang_pred, count(*)::BIGINT AS n_docs
        FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        GROUP BY 1, 2
        """
), Plan(shuffles=1, must=["HashAggregate"], must_not=["SortMergeJoin"]))
def q_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: labeled lang x detected lang doc
    counts — the data-quality report for the lang-ID heuristic."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(
        "lang", detect_language(F.col("text")).alias("lang_pred")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


@GATES.gate("inverted_index", r"""
        WITH posting AS (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id,
                   unnest(list_filter(
                     string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '')) AS term
            FROM documents)),
        dfc AS (SELECT term, count(*)::BIGINT AS df FROM posting GROUP BY term),
        top AS (SELECT term, df FROM dfc ORDER BY df DESC, term LIMIT 100)
        SELECT p.term, p.doc_id, t.df
        FROM posting p JOIN top t ON p.term = t.term
    """, Plan(
    # df top-100 is a TakeOrdered broadcast back onto the postings
    shuffles=1,
    must=["TakeOrderedAndProject", "BroadcastHashJoin"],
    must_not=["SortMergeJoin"],
))
def q_inverted_index(spark, sf_dir):
    """Bounded inverted index: postings for the 100 highest-df terms
    (deterministic tie-break), df attached."""
    return build_inverted_index(_t(spark, sf_dir, "documents"))


@GATES.gate("dup_spans", _dup_span_cte + """
        SELECT doc_id, span_start, span_end, n_windows FROM spans
    """, Plan(
    # gram-hash agg + hot-set equi-join + per-doc interval-merge window
    shuffles=3,
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition"],
))
def q_dup_spans(spark, sf_dir):
    """Within-corpus duplicated-span detection (Lee et al. span-level
    dedup): maximal token ranges whose every 8-token window appears in
    >= 2 docs — gram-hash aggregate + interval-merge window, no
    all-pairs."""
    # r18: keyed spread of the gram explode's input (8.2 -> 1.8 s at
    # sf0.1 — the single-file scan ran the n-gram build one-core)
    return duplicate_spans(
        ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id"),
        n=8, min_docs=2,
    )


@GATES.gate("dup_span_removal", _dup_span_cte + """,
        tok_rows AS (
          SELECT doc_id, unnest(t) AS tok,
                 generate_subscripts(t, 1)::BIGINT AS i
          FROM toks),
        kept AS (
          SELECT tr.doc_id,
                 string_agg(tr.tok, ' ' ORDER BY tr.i) AS txt,
                 count(*) AS n_kept
          FROM tok_rows tr
          WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = tr.doc_id
              AND tr.i BETWEEN s.span_start AND s.span_end)
          GROUP BY tr.doc_id),
        spanned AS (SELECT DISTINCT doc_id FROM spans)
        SELECT d.doc_id,
               CASE WHEN sp.doc_id IS NULL THEN d.text
                    ELSE coalesce(k.txt, '') END AS clean_text,
               CASE WHEN sp.doc_id IS NULL THEN 0
                    ELSE len(t.t) - coalesce(k.n_kept, 0)
               END::BIGINT AS n_tokens_removed
        FROM documents d
        JOIN toks t ON t.doc_id = d.doc_id
        LEFT JOIN spanned sp ON sp.doc_id = d.doc_id
        LEFT JOIN kept k ON k.doc_id = d.doc_id
    """, Plan(
    # r18: +1 keyed ensure_parallelism spread of the local scan
    shuffles=4,
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition"],
))
def q_dup_span_removal(spark, sf_dir):
    """Surgical removal of the duplicated spans: tokens covered by a
    span are cut via a positional array filter (pure codegen, no explode
    of the kept tokens); untouched docs pass through the left join."""
    # r18: keyed spread (7.8 -> 1.45 s at sf0.1, same rationale)
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    spans = duplicate_spans(docs, n=8, min_docs=2)
    return remove_duplicate_spans(docs, spans)


@GATES.gate("lm_score", """
        WITH bg AS (
          SELECT doc_id, substr(text, i, 2) AS bg
          FROM documents, UNNEST(range(1, length(text))) AS u(i)
          WHERE length(text) >= 2),
        dbg AS (
          SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
        model AS (SELECT bg, sum(cnt) AS nbg FROM dbg GROUP BY bg),
        pre AS (
          SELECT substr(bg, 1, 1) AS c1, sum(nbg) AS npre
          FROM model GROUP BY 1),
        vv AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM model),
        probs AS (
          SELECT m.bg, (m.nbg + 0.5) / (p.npre + 0.5 * vv.v) AS p
          FROM model m JOIN pre p ON substr(m.bg, 1, 1) = p.c1, vv),
        sc AS (
          SELECT d.doc_id, sum(d.cnt) AS n_bigrams,
                 sum(d.cnt * ln(p)) / sum(d.cnt) AS lp
          FROM dbg d JOIN probs USING (bg) GROUP BY 1)
        SELECT doc_id, n_bigrams::BIGINT AS n_bigrams,
               round(lp, 6) AS logprob, round(exp(-lp), 4) AS ppx
        FROM sc
    """, Plan(
    # model joins are broadcast (alphabet-sized); the SinglePartition is
    # the 1-row vocabulary-count agg (bounds-broadcast pattern); the only
    # data-sized shuffle is the per-doc aggregate
    # 9 static Exchanges because the (doc, bigram) histogram subtree
    # feeds model AND probe: Spark's exchange reuse collapses the
    # duplicates at runtime (ReusedExchange), so the executed plan
    # shuffles the data once for the histogram + once per tiny agg
    shuffles=9,
    must=["BroadcastHashJoin"],
    must_not=["SortMergeJoin", "CartesianProduct"],
))
def q_lm_score(spark, sf_dir):
    """Char-bigram LM quality score (KenLM-style perplexity filter,
    self-trained): alphabet^2-bounded model broadcast against the bigram
    stream; per-doc mean log-likelihood + perplexity."""
    # r18: keyed spread — the bigram explode+join on a single-file scan
    # bottlenecked one core (A/B at sf0.1: 3.4 -> 1.5 s); no-op at scale
    return char_bigram_lm_score(
        ensure_parallelism(_t(spark, sf_dir, "documents"), key="doc_id")
    )


@GATES.gate("cluster_split", (
    "WITH RECURSIVE " + _NEARDUP_CORPUS_SQL
    + ", sig AS (" + _minhash_sql("corpus")
    + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
    + ", pairs AS ("
    + """
          SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        sym AS (
          SELECT ida AS a, idb AS b FROM pairs
          UNION
          SELECT idb, ida FROM pairs),
        reach(node, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b),
        labels AS (
          SELECT node, min(r) AS label FROM reach GROUP BY node),
        grouped AS (
          SELECT c.doc_id::BIGINT AS doc_id,
                 coalesce(l.label, c.doc_id)::BIGINT AS split_group
          FROM corpus c LEFT JOIN labels l ON l.node = c.doc_id)
        SELECT doc_id, split_group,
               CASE WHEN u < 0.8 THEN 'train'
                    WHEN u < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id, split_group,
                 CAST('0x' || substr(md5('split:' || split_group::VARCHAR), 1, 15)
                      AS BIGINT)::DOUBLE / 1152921504606846976.0 AS u
          FROM grouped)
        """
), Plan(
    # CC runs on checkpointed edge list; final plan = broadcast label
    # join + map-side split rule — the corpus itself never shuffles
    shuffles=2,
    must=["BroadcastHashJoin"],
    must_not=["SortMergeJoin", "CartesianProduct"],
))
def q_cluster_split(spark, sf_dir):
    """Leakage-safe train/val/test split: near-dup clusters (LSH pairs ->
    connected components) move as a UNIT, so no eval doc has a train
    twin. Corpus is never shuffled — CC runs on the edge list, labels
    broadcast back, split is a map-side md5 rule on the group label."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_minhash(
        corpus, "doc_id", "text",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    ).select("id_a", "id_b")
    out = leakage_safe_split(
        corpus, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("split_group").cast("long").alias("split_group"),
        "split",
    )
