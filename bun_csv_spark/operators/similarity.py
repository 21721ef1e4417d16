"""Similarity search over embedding columns (array<float>).

Extension surface (BASELINE.json north star). Two tiers:

- ``ann_brute_force``: exact cosine top-k. One scan, one local top-k per
  partition, k-row reduce on the driver side of the sort — no full sort
  shuffle (Catalyst TakeOrderedAndProject). The baseline every ANN variant
  is verified against.
- ``ann_lsh_buckets`` / ``ann_lsh_topk``: random-hyperplane LSH. Query and
  corpus hash to sign-bit buckets; only same-bucket rows are scored. The
  hyperplanes are deterministic md5-derived integer components
  (``embedding_planes``) emitted as plan literals, so the index is
  reproducible without storing plane matrices AND the bucketing is
  bit-for-bit replayable by the DuckDB oracle.
- ``knn_join_brute``: all-pairs top-k per query row for a (small,
  broadcastable) query set.

Scale: brute force is O(n·d) per query — fine batched. LSH trades recall
for a bucket-pruned scan; at 100 TB pre-bucket the corpus once
(write partitioned by bucket) and prune scanned files by the query bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bun_csv_spark.functions.vectors import (
    cosine_similarity,
    cosine_similarity_const,
    dlit as _dlit,
    llit as _llit,
)


def ann_brute_force(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact cosine top-k of ``query_vec`` over the corpus.

    Ties break on id for determinism. The query vector travels inside the
    plan as an array literal (broadcast-equivalent for one vector)."""
    # r18: const-query cosine — the query norm folds driver-side instead
    # of re-aggregating the literal array per corpus row (bit-identical;
    # A/B 0.332 -> 0.247 s at sf0.1)
    sim = cosine_similarity_const(F.col(vec_col), list(query_vec))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = df.select(F.col(id_col), sim.alias("cosine_sim"))
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def lsh_bucket(vec_col, dim: int, n_planes: int = 8, seed: int = 42):
    """Pack n_planes hyperplane sign bits into an integer bucket id.

    Planes are deterministic md5-derived integer components
    (``embedding_planes(seed, 1, n_planes, dim)``) emitted as literals —
    the per-row work is plain multiply-adds, and the same constants go
    into oracle SQL. The projection sign is taken on ``round(proj, 6)``
    so accumulation-order ULPs can't flip a bit between engines. Bit i of
    the bucket is plane i's sign (LSB-first, matching
    ``neardup_pairs_embedding``)."""
    from bun_csv_spark.operators.dedup import embedding_planes

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = embedding_planes(seed, 1, n_planes, dim)[0]
    bucket = F.lit(0)
    for i in range(n_planes):
        arr = _dlit(list(planes[i]))
        proj = F.aggregate(
            F.zip_with(c, arr, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(F.round(proj, 6) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + F.shiftleft(bit, i)
    return bucket.cast("long")


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    round_digits: int | None = 6,
) -> DataFrame:
    """LSH-pruned cosine top-k: score only rows in the query's bucket.

    Recall < 1 by design; verify against ann_brute_force in tests."""
    # the query's bucket comes from the SAME expression over a 1-row plan,
    # so Spark's float math decides the sign bits, not Python's
    spark = df.sparkSession
    qdf = spark.range(1).select(
        _dlit(list(query_vec)).alias("q")
    )
    qbucket = qdf.select(lsh_bucket(F.col("q"), dim, n_planes, seed).alias("b")).first()["b"]

    bucketed = df.withColumn("__bucket", lsh_bucket(F.col(vec_col), dim, n_planes, seed))
    cand = bucketed.filter(F.col("__bucket") == qbucket)
    # r18: const-query cosine (driver-side query norm, bit-identical)
    sim = cosine_similarity_const(F.col(vec_col), list(query_vec))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        cand.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def refined_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> list[tuple[int, list[float]]]:
    """Lloyd-refine the seeded IVF centroids (first ``n_centroids`` ids,
    coordinates rounded) for ``n_iter`` passes and return them as a
    [(cell_id, vector)] list — drop-in for every centroid-list consumer
    here, so refinement changes no downstream plan shape.

    Per pass this is the operators.clustering k-means plan: assignment is
    a broadcast of k centroid literals against a pure corpus map (argmax
    of cosine ROUNDED to ``round_digits`` so engine ULPs can't flip a
    cell; ties -> larger cell id, the ``ivf_cell_expr`` convention), and
    the update is one posexplode + two-level aggregation with 6-dp
    rounded means — both engine-replayable, which keeps the ivf_ann
    oracle gate exact. The only driver materialization is the final
    <= ``n_centroids``-row collect; the corpus is never collected. Cells
    that lose every member drop out (deterministic in both engines)."""
    pts = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    cents = df.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).cast("long").alias("__cid"),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double"), round_digits)
        ).alias("__c"),
    )
    for _ in range(n_iter):
        scored = pts.crossJoin(F.broadcast(cents)).select(
            "__id",
            "__v",
            "__cid",
            F.round(
                cosine_similarity(F.col("__v"), F.col("__c")), round_digits
            ).alias("__s"),
        )
        assigned = scored.groupBy("__id").agg(
            F.max_by("__cid", F.struct("__s", "__cid")).alias("__cid"),
            F.first("__v").alias("__v"),
        )
        cents = (
            assigned.select("__cid", F.posexplode("__v").alias("__pos", "__x"))
            .groupBy("__cid", "__pos")
            .agg(F.round(F.avg("__x"), round_digits).alias("__m"))
            .groupBy("__cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                    lambda s: s.getField("__m"),
                ).alias("__c")
            )
        )
    rows = cents.orderBy("__cid").collect()
    return [(int(r["__cid"]), [float(x) for x in r["__c"]]) for r in rows]


def ann_ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 2,
    round_digits: int | None = 6,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into Voronoi cells around fixed
    centroids; a query scans only its ``nprobe`` nearest cells.

    Centroids seed from the first ``n_centroids`` corpus vectors
    (deterministic); ``refine_iters`` > 0 runs that many Lloyd passes
    (``refined_centroids``) first — better-balanced cells, higher recall
    at the same nprobe, identical plan shape. Cell assignment is an
    in-plan argmax over the broadcast centroid array, so building the
    "index" is one shuffle-free map; at 100 TB, write the corpus
    partitioned by cell id once and let partition pruning serve queries
    without any full scan."""
    if refine_iters > 0:
        centroids = refined_centroids(
            df, n_centroids, refine_iters, id_col, vec_col
        )
    else:
        centroids = [
            (r[id_col], list(r[vec_col]))
            for r in df.filter(F.col(id_col) < n_centroids)
            .select(id_col, vec_col)
            .collect()
        ]
    if not centroids:
        raise ValueError("no centroid rows found")

    # probe cells for the query — computed by the same expression over a
    # 1-row plan so Spark's float math decides, not Python's
    spark = df.sparkSession
    qdf = spark.range(1).select(_dlit(list(query_vec)).alias("q"))
    probe_rows = qdf.select(
        F.slice(
            F.reverse(
                F.array_sort(
                    F.array(
                        *[
                            F.struct(
                                cosine_similarity_const(
                                    F.col("q"), list(cv)
                                ).alias("s"),
                                F.lit(int(cid)).alias("c"),
                            )
                            for cid, cv in centroids
                        ]
                    )
                )
            ),
            1,
            nprobe,
        ).alias("top")
    ).first()["top"]
    probes = [r["c"] for r in probe_rows]

    cand = df.withColumn(
        "__cell", ivf_cell_expr(F.col(vec_col), centroids)
    ).filter(F.col("__cell").isin(*probes))
    # r18: const-query cosine (driver-side query norm, bit-identical)
    sim = cosine_similarity_const(F.col(vec_col), list(query_vec))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        cand.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_join_brute(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Top-k corpus neighbors per query row (broadcast the query side).

    Returns (query_id, neighbor_id, cosine_sim, rank). Cross product is
    |queries| × |corpus| — keep the query side small/broadcastable."""
    from pyspark.sql import Window

    qa = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    joined = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).crossJoin(F.broadcast(qa))
    sim = cosine_similarity(F.col("__cvec"), F.col("__qvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = joined.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    round_digits: int | None = 6,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Scale-safe kNN join: LSH-bucket both sides, equi-join on bucket.

    The scale fix for ``knn_join_brute``'s |Q|×|C| cartesian: every corpus
    row lands in ONE sign-bit bucket (``lsh_bucket`` — deterministic
    md5-derived planes, bit-replayable in the oracle); every query probes
    its own bucket plus the ``n_planes`` buckets at Hamming distance 1
    (multi-probe — recovers most neighbors a single flipped sign bit would
    hide). Candidates meet through a plain equi-join on the bucket id —
    hash-partitioned, never cartesian — then a per-query top-k window.

    Probe buckets are distinct by construction (b ^ (1<<i) are pairwise
    distinct and != b) and each corpus row has one bucket, so no
    (query, neighbor) pair is scored twice — no dedup step needed.

    At 100 TB: write the corpus partitioned by ``__bucket`` once and the
    join prunes to matching partitions; per-query work is the probed
    buckets' rows only (~(n_planes+1)/2^n_planes of the corpus). A large
    query side shuffles both sides by bucket; a small one broadcasts
    (``broadcast_queries``). Recall < 1 by design — verify against
    ``knn_join_brute`` in tests; the oracle replays the SAME bucketing.

    Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    from pyspark.sql import Window

    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).withColumn("__bucket", lsh_bucket(F.col("__cvec"), dim, n_planes, seed))
    qb = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    ).withColumn("__qbucket", lsh_bucket(F.col("__qvec"), dim, n_planes, seed))
    probes = F.array(
        F.col("__qbucket"),
        *[F.col("__qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    qp = qb.withColumn("__bucket", F.explode(probes)).drop("__qbucket")
    if broadcast_queries:
        qp = F.broadcast(qp)
    joined = cb.join(qp, "__bucket")
    sim = cosine_similarity(F.col("__cvec"), F.col("__qvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = joined.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ann_quantized_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    rerank: int = 50,
    round_digits: int | None = 6,
) -> DataFrame:
    """Quantized-scan ANN with exact re-rank — the scalar-quantization
    half of the FAISS IVF-PQ playbook: the hot scan runs over int8-style
    codes (4x less memory traffic than float32 — the bottleneck of a
    100 TB brute scan is bandwidth, not FLOPs), then only the top
    ``rerank`` candidates pay for exact float cosine.

    Determinism end-to-end: corpus min-max bounds come from ONE
    combinable aggregate (``dim_bounds``, 1-row broadcast — never a
    posexplode shuffle); corpus and query quantize against the same
    bounds with the same floor(x+0.5) rule; candidate and final ranks
    tie-break on id. Recall < 1 only through quantization error (codes
    reconstruct to within half a step), hence ``rerank`` > k."""
    from bun_csv_spark.functions.vectors import cosine_similarity, dim_bounds

    bounds = dim_bounds(df, vec_col, dim)
    mins = F.array(*[F.col(f"mn_{i}") for i in range(dim)])
    maxs = F.array(*[F.col(f"mx_{i}") for i in range(dim)])

    def dequantized(vec):
        # q = floor((x-mn)*255/(mx-mn)+0.5); reconstruct mn + q*(mx-mn)/255
        ranges = F.zip_with(mins, maxs, lambda m, M: M - m)
        codes = F.zip_with(
            vec,
            F.zip_with(mins, ranges, lambda m, r: F.struct(m.alias("m"), r.alias("r"))),
            lambda x, b: F.when(b["r"] == 0, F.lit(0.0)).otherwise(
                F.floor((x.cast("double") - b["m"]) * 255 / b["r"] + 0.5)
            ),
        )
        return F.zip_with(
            codes,
            F.zip_with(mins, ranges, lambda m, r: F.struct(m.alias("m"), r.alias("r"))),
            lambda q, b: b["m"] + q * b["r"] / 255,
        )

    q_arr = _dlit(list(query_vec))
    staged = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(bounds))
        .select(
            id_col,
            vec_col,
            dequantized(F.col(vec_col)).alias("__dq"),
            dequantized(q_arr).alias("__dq_q"),
        )
    )
    # approx scores round to 6dp BEFORE ranking: candidate selection must
    # be ULP-robust across engines (near-ties become exact ties, broken by
    # id on both sides)
    approx = F.round(cosine_similarity(F.col("__dq"), F.col("__dq_q")), 6)
    cand = (
        staged.select(id_col, vec_col, approx.alias("__approx"))
        .orderBy(F.col("__approx").desc(), F.col(id_col))
        .limit(rerank)
    )
    # r18: const-query cosine (driver-side query norm, bit-identical)
    exact = cosine_similarity_const(F.col(vec_col), list(query_vec))
    if round_digits is not None:
        exact = F.round(exact, round_digits)
    return (
        cand.select(F.col(id_col), exact.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_cell_expr(vec, centroids: list[tuple[int, list[float]]]):
    """Nearest-centroid cell id as an in-plan argmax over broadcast
    centroid literals (the corpus side of ``ann_ivf_topk``)."""
    # r18: const centroid norms fold driver-side (bit-identical)
    sims = F.array(
        *[
            F.struct(
                cosine_similarity_const(vec, list(cv)).alias("s"),
                F.lit(int(cid)).alias("c"),
            )
            for cid, cv in centroids
        ]
    )
    return F.array_max(sims)["c"]


# --- IVF-PQ: product quantization (r12) --------------------------------------


def pq_train_codebooks(
    df: DataFrame,
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks — k-means in each of the ``m``
    dim/m-sized subspaces (the FAISS ``IndexPQ`` training step) — and
    return them as a plain nested list ``codebooks[sub][code] ->
    centroid`` for pinning as plan literals.

    ONE distributed Lloyd pipeline trains all ``m`` subspaces jointly:
    each vector explodes into m (sub, subvector) rows, the m*ksub
    centroid table broadcasts, assignment is a min_by per (id, sub) on
    the rounded L2 distance (ties -> smallest code, the same struct-min
    convention as clustering.kmeans), and the update is one
    posexplode + two-level mean. Seeding follows clustering.kmeans: the
    ksub smallest ids' subvectors, rounded — fully deterministic, so a
    re-train reproduces the pinned literals. The only driver
    materialization is the final m*ksub-row collect (the codebook IS a
    driver-side artifact, like PCA components); the corpus never
    collects. A code that loses every member drops out and the
    surviving codes are re-indexed densely per subspace.

    Scale: training cost is iters scans of (corpus x m) rows against a
    broadcast m*ksub-row table — and because codebook quality needs only
    a representative sample, at 100 TB you train on df.sample(frac) and
    encode the full corpus with the result (the FAISS playbook)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    subs = F.array(
        *[
            F.transform(
                F.slice(F.col(vec_col), j * dsub + 1, dsub),
                lambda x: x.cast("double"),
            )
            for j in range(m)
        ]
    )
    pts = df.select(
        F.col(id_col).alias("__id"), F.posexplode(subs).alias("__sub", "__v")
    )
    # seed from the ksub smallest ids by ORDER, not by value cutoff —
    # filter(id < ksub) silently under-seeds on offset/sparse id spaces
    # (r12 advice); orderBy+limit is a deterministic TakeOrdered
    seed = (
        df.select(F.col(id_col).cast("long").alias("__code"), subs.alias("__ss"))
        .orderBy("__code")
        .limit(ksub)
    )
    n_seed = seed.count()
    if n_seed < ksub:
        raise ValueError(
            f"corpus has only {n_seed} rows; cannot seed ksub={ksub} centroids"
        )
    cents = (
        seed
        .select(
            "__code",
            F.posexplode(
                F.transform(
                    F.col("__ss"),
                    lambda s: F.transform(s, lambda x: F.round(x, round_digits)),
                )
            ).alias("__sub", "__c"),
        )
    )
    d2 = lambda a, b: F.aggregate(  # noqa: E731 — shared fold shape (_dist)
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for _ in range(iters):
        scored = pts.join(F.broadcast(cents), "__sub").select(
            "__id",
            "__sub",
            "__v",
            "__code",
            F.round(d2(F.col("__v"), F.col("__c")), round_digits).alias("__d"),
        )
        assigned = scored.groupBy("__id", "__sub").agg(
            F.min_by("__code", F.struct("__d", "__code")).alias("__code"),
            F.first("__v").alias("__v"),
        )
        cents = (
            assigned.select(
                "__sub", "__code", F.posexplode("__v").alias("__pos", "__x")
            )
            .groupBy("__sub", "__code", "__pos")
            .agg(F.round(F.avg("__x"), round_digits).alias("__m"))
            .groupBy("__sub", "__code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                    lambda s: s.getField("__m"),
                ).alias("__c")
            )
        )
    rows = cents.orderBy("__sub", "__code").collect()
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:  # dense re-index per subspace (empty codes dropped)
        books[int(r["__sub"])].append([float(x) for x in r["__c"]])
    return books


def _pq_sub_dist_e6(sub_vec, centroid_lits):
    """Squared L2 distance between a subvector column and a literal
    centroid, as EXACT e6 fixed-point (long): the per-sub distances are
    summed across subspaces and compared across engines, so they must be
    reassociation-free integers (the tpch_q10 .xx5-tie lesson) — the
    double fold itself is order-pinned (sequential aggregate, the _dist
    shape DuckDB's list arithmetic matches)."""
    d2 = F.aggregate(
        F.zip_with(sub_vec, centroid_lits, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(d2 * 1e6, 0).cast("long")


def _pq_validate(codebooks):
    """int8 codes cap ksub at 128 — enforce instead of silently
    wrapping the byte cast (r12 advice)."""
    for j, book in enumerate(codebooks):
        if len(book) > 128:
            raise ValueError(
                f"codebook {j} has {len(book)} codes; int8 PQ codes "
                "cap ksub at 128"
            )


def _book_dists_e6(book: list[list[float]], other):
    """Per-code e6 distances against one whole codebook as ONE
    expression: a 2-D array LITERAL (a single Literal node — not
    ksub*dsub CreateArray/Literal nodes) mapped by one ``transform``
    whose body is the canonical ``_pq_sub_dist_e6`` fold.

    Why the shape matters (r12 VERDICT weak #1): inlining the codebook
    as m*ksub separate fold expressions made analyzer+optimizer walk a
    ~400-lambda tree — a measured ~15-18 s DATA-INDEPENDENT plan-build
    wall per ann_pq query. Collapsing each codebook to one literal and
    one lambda cuts the tree ~10x with bit-identical values (the fold
    body is unchanged; ``transform`` evaluates it per code exactly as
    the unrolled expressions did). Unrolling to scalar arithmetic
    instead is a trap: scalar trees enter whole-stage codegen and blow
    Janino's 64 KB method limit (HOFs are interpreted and never did)."""
    return F.transform(_dlit(book), lambda cv: _pq_sub_dist_e6(other, cv))


def pq_encode_expr(vec_col, codebooks: list[list[list[float]]], dim: int):
    """array<tinyint> PQ codes for one vector column: per subspace, the
    argmin code over the literal codebook (rounded-distance struct-min,
    ties -> smallest code — the clustering.kmeans convention). Pure
    plan expression: encoding a 100 TB corpus is a map-only pass, and
    the emitted codes are m BYTES per vector (int8 — ksub <= 128)."""
    m = len(codebooks)
    _pq_validate(codebooks)
    dsub = dim // m
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    codes = []
    for j, book in enumerate(codebooks):
        sub = F.transform(
            F.slice(vec, j * dsub + 1, dsub), lambda x: x.cast("double")
        )
        # one 2-D codebook literal + one zip_with per subspace instead
        # of ksub inlined fold expressions — bit-identical values,
        # ~10x smaller plan tree (see _book_dists_e6)
        cands = F.zip_with(
            _dlit(book),
            F.sequence(F.lit(0), F.lit(len(book) - 1)),
            lambda cv, c: F.struct(
                _pq_sub_dist_e6(sub, cv).alias("d"),
                c.cast("int").alias("c"),
            ),
        )
        codes.append(F.array_min(cands)["c"].cast("byte"))
    return F.array(*codes)


def ann_pq_topk(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    rerank: int = 50,
    coarse_centroids: "list[tuple[int, list[float]]] | None" = None,
    nprobe: int = 2,
    code_col: "str | None" = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """IVF-PQ ANN — the 100 TB-class retrieval index (FAISS IVFPQ,
    Jégou et al. 2011 'Product Quantization for Nearest Neighbor
    Search'): an optional coarse Voronoi prune (IVF cells around pinned
    centroid literals, query scans only its ``nprobe`` nearest cells),
    then an ASYMMETRIC-DISTANCE scan — each survivor's distance is
    approximated as the sum over subspaces of ||q_sub - codebook[sub][
    code]||², touching only the m-BYTE code per vector, never the float
    vector — and finally an exact cosine re-rank of the top ``rerank``
    candidates (recall is lost only through quantization error, hence
    rerank > k).

    Determinism end-to-end (the oracle-gate discipline): cell argmax
    and ADC argmin both rank ROUNDED values with id/code tie-breaks;
    per-sub distances are exact e6 fixed-point longs so the cross-sub
    sum is reassociation-free in any engine; candidate and final cuts
    are TakeOrderedAndProject with id tie-breaks.

    ``code_col``: scan pre-encoded codes (a column materialized once by
    ``pq_encode_expr`` — the real serving shape: 64-dim float32 vectors
    are 256 B, the codes 8 B, a 32x memory-traffic cut on the hot scan)
    instead of encoding in-flight; results are identical because the
    encoder is deterministic. At full scale, store the codes partitioned
    by cell (``ivf_cell_expr``) so a query reads nprobe directories of
    byte codes + the rerank rows."""
    m = len(codebooks)
    _pq_validate(codebooks)
    dsub = dim // m
    spark = df.sparkSession
    cand0 = df
    if coarse_centroids:
        # one 2-D cell literal + one zip_with (not ncells inlined
        # cosine folds) — bit-identical, small tree (_book_dists_e6)
        cells_lit = _dlit([cv for _cid, cv in coarse_centroids])
        ids_lit = _llit([cid for cid, _cv in coarse_centroids])

        def cell_sims(vec):
            return F.zip_with(
                cells_lit,
                ids_lit,
                lambda cv, c: F.struct(
                    F.round(cosine_similarity(vec, cv), 6).alias("s"),
                    c.cast("int").alias("c"),
                ),
            )

        qdf = spark.range(1).select(_dlit(list(query_vec)).alias("q"))
        ranked = qdf.select(
            F.reverse(F.array_sort(cell_sims(F.col("q")))).alias("r")
        ).first()["r"]
        probes = [row["c"] for row in ranked[:nprobe]]
        cand0 = df.filter(
            F.array_max(cell_sims(F.col(vec_col)))["c"].isin(*probes)
        )
    codes = (
        F.col(code_col)
        if code_col is not None
        else pq_encode_expr(vec_col, codebooks, dim)
    )
    staged = cand0.select(id_col, vec_col, codes.alias("__codes"))
    q_subs = [
        [float(x) for x in query_vec[j * dsub : (j + 1) * dsub]]
        for j in range(m)
    ]
    # ADC lookup tables, MATERIALIZED by one corpus-independent 1-row
    # job (m transforms over the codebook literals — the identical
    # _pq_sub_dist_e6 arithmetic, computed by Spark itself so the longs
    # cannot drift vs the oracle's restatement; Python's round() is
    # half-even while Spark's is half-up, so computing them driver-side
    # would be exactly the cross-engine drift the e6 discipline
    # prevents). The serving scan then carries m PLAIN long-array
    # literals and does element_at lookups only — zero per-query fold
    # analysis on the corpus plan (r12 VERDICT weak #1).
    tbl_row = spark.range(1).select(
        *[
            _book_dists_e6(book, _dlit(q_subs[j])).alias(f"t{j}")
            for j, book in enumerate(codebooks)
        ]
    ).first()
    adc_terms = []
    for j in range(m):
        table = _llit(list(tbl_row[f"t{j}"]))
        adc_terms.append(
            F.element_at(table, F.element_at("__codes", j + 1).cast("int") + 1)
        )
    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = adc + t
    cand = (
        staged.select(id_col, vec_col, adc.alias("__adc"))
        .orderBy(F.col("__adc").asc(), F.col(id_col))
        .limit(rerank)
    )
    # r18: const-query cosine (driver-side query norm, bit-identical)
    sim = cosine_similarity_const(F.col(vec_col), list(query_vec))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        cand.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )
