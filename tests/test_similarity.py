"""Similarity search: brute-force exactness, LSH recall sanity, kNN join."""

import math
import random

import pytest

from bun_csv_spark.functions.vectors import cosine_similarity, dot, l2_norm
from bun_csv_spark.operators.similarity import (
    ann_brute_force,
    ann_lsh_topk,
    knn_join_brute,
)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)
    ]
    # plant a near-clone of vec 0
    clone = [x + 0.001 for x in rows[0][1]]
    rows.append((999, clone))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_vector_exprs(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>"
    )
    row = df.select(
        dot("a", "b").alias("d"),
        l2_norm("a").alias("n"),
        cosine_similarity("a", "b").alias("c"),
    ).collect()[0]
    assert row.d == 32.0
    assert abs(row.n - math.sqrt(14)) < 1e-12
    expected = 32.0 / (math.sqrt(14) * math.sqrt(77))
    assert abs(row.c - expected) < 1e-12


def test_zero_vector_cosine_is_zero(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "a array<double>, b array<double>")
    assert df.select(cosine_similarity("a", "b").alias("c")).collect()[0].c == 0.0


def test_const_norm_bit_identical(spark, vecs):
    """const_l2_norm / cosine_similarity_const must be BIT-identical to
    the in-plan generic forms — the r18 fold-the-constant optimization is
    only legal because the driver-side left fold reproduces Spark's
    aggregate() double arithmetic exactly."""
    import struct

    from bun_csv_spark.functions.vectors import (
        const_l2_norm,
        cosine_similarity_const,
        dlit,
    )

    sample = [list(r.embedding) for r in vecs.limit(8).collect()]
    sample += [[0.0] * 16, [1e-200] * 4, [3.14159, -2.71828, 1e10, -1e-10]]
    row = spark.range(1).select(
        *[l2_norm(dlit(v)).alias(f"n{i}") for i, v in enumerate(sample)]
    ).first()
    for i, v in enumerate(sample):
        assert struct.pack("<d", row[f"n{i}"]) == struct.pack(
            "<d", const_l2_norm(v)
        ), f"norm drift on vector {i}"

    # end-to-end: const-form cosine equals generic-form cosine bit-for-bit
    q = sample[0]
    a = vecs.select(
        cosine_similarity("embedding", dlit(q)).alias("g"),
        cosine_similarity_const("embedding", q).alias("c"),
    ).collect()
    assert all(
        struct.pack("<d", r.g) == struct.pack("<d", r.c) for r in a
    )


def test_brute_force_topk(vecs):
    q = [r.embedding for r in vecs.filter("vec_id = 0").collect()][0]
    out = ann_brute_force(vecs, list(q), k=3).collect()
    ids = [r.vec_id for r in out]
    assert ids[0] == 0  # self first (sim 1.0)
    assert ids[1] == 999  # planted clone second
    assert out[0].cosine_sim >= out[1].cosine_sim >= out[2].cosine_sim


def test_lsh_finds_clone(vecs):
    q = [r.embedding for r in vecs.filter("vec_id = 0").collect()][0]
    out = ann_lsh_topk(vecs, list(q), k=5, dim=16, n_planes=6)
    ids = [r.vec_id for r in out.collect()]
    # the query's own bucket must contain itself and its clone
    assert 0 in ids and 999 in ids


def test_knn_join(vecs):
    queries = vecs.filter("vec_id < 3")
    out = knn_join_brute(vecs, queries, k=2)
    rows = [(r.query_id, r.neighbor_id, r.rank) for r in out.collect()]
    assert len(rows) == 6  # 3 queries x k=2
    for qid in (0, 1, 2):
        top = [r for r in rows if r[0] == qid and r[2] == 1]
        assert top[0][1] == qid  # rank-1 neighbor is self


def test_neardup_pairs_embedding_finds_clone(vecs):
    # vec 999 is a planted clone of vec 0: every band bucket matches, so
    # the pair must survive bucketing and score cosine ~1; unrelated
    # random pairs fall under the threshold
    from bun_csv_spark.operators.dedup import neardup_pairs_embedding

    out = neardup_pairs_embedding(
        vecs, "vec_id", "embedding", dim=16, threshold=0.95, bands=4, n_planes=4
    ).collect()
    pairs = {(r.id_a, r.id_b): r.cosine for r in out}
    assert (0, 999) in pairs
    assert pairs[(0, 999)] >= 0.99


def test_ann_quantized_matches_brute_force(spark, vecs):
    """Quantized-scan + exact re-rank: with rerank >> k the top-k should
    equal brute force exactly (quantization error only reorders the
    candidate tail), and scores are the exact float cosines."""
    from bun_csv_spark.operators.similarity import (
        ann_brute_force,
        ann_quantized_topk,
    )

    qvec = list(vecs.filter("vec_id = 3").select("embedding").first()["embedding"])
    brute = [
        (r.vec_id, r.cosine_sim)
        for r in ann_brute_force(vecs, qvec, k=10).collect()
    ]
    quant = [
        (r.vec_id, r.cosine_sim)
        for r in ann_quantized_topk(vecs, qvec, k=10, dim=16, rerank=50).collect()
    ]
    assert quant == brute


def test_knn_join_bucketed_no_cartesian_and_recall(spark, vecs):
    """The bucketed kNN join must (a) never plan a cartesian product and
    (b) recover most of the brute-force neighbor pairs via multi-probe."""
    from bun_csv_spark.operators.similarity import knn_join_bucketed

    # 4 planes on uniform-random vectors (worst case for LSH — true
    # neighbors are barely above the noise floor); real embedding spaces
    # cluster and probe far better (the sf0.01 oracle gate covers those)
    queries = vecs.filter("vec_id < 10")
    out = knn_join_bucketed(
        vecs, queries, k=5, vec_col="embedding", dim=16, n_planes=4, seed=42
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    got = {(r.query_id, r.neighbor_id) for r in out.collect()}
    brute = {
        (r.query_id, r.neighbor_id)
        for r in knn_join_brute(vecs, queries, k=5).collect()
    }
    # every query must at least find itself (cosine 1.0, same bucket)
    assert {(q, q) for q in range(10)} <= got
    # the planted near-clone of vec 0 always shares vec 0's bucket
    assert (0, 999) in got
    recall = len(got & brute) / len(brute)
    assert recall >= 0.5, f"multi-probe recall too low: {recall}"


def test_knn_join_bucketed_rank_contract(spark, vecs):
    """Ranks are 1..k, dense per query, deterministic tie-break on id."""
    from bun_csv_spark.operators.similarity import knn_join_bucketed

    queries = vecs.filter("vec_id < 3")
    rows = knn_join_bucketed(
        vecs, queries, k=4, dim=16, n_planes=6
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        ordered = sorted(rs, key=lambda r: (-r.cosine_sim, r.neighbor_id))
        assert [r.rank for r in ordered] == ranks


def test_ivf_refined_centroids_recall_and_balance(spark, vecs):
    """Round-6 verdict stretch: one Lloyd pass over the seeded IVF
    centroids. MEASURE recall@10 (vs brute force) averaged over several
    queries and cell balance, refined vs seeded — refinement must not
    lose average recall at the same nprobe, and must not worsen the
    hottest cell (the scan-cost bound at scale)."""
    from pyspark.sql import functions as F

    from bun_csv_spark.operators.similarity import (
        ann_ivf_topk,
        ivf_cell_expr,
        refined_centroids,
    )

    qids = [0, 40, 80, 120, 160, 999]
    qvecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in vecs.filter(F.col("vec_id").isin(qids)).collect()
    }
    avg = {}
    for iters in (0, 1):
        tot = 0.0
        for qv in qvecs.values():
            truth = {r.vec_id for r in ann_brute_force(vecs, qv, k=10).collect()}
            got = {
                r.vec_id
                for r in ann_ivf_topk(
                    vecs, qv, k=10, n_centroids=8, nprobe=2, refine_iters=iters
                ).collect()
            }
            tot += len(got & truth) / 10
        avg[iters] = tot / len(qvecs)
    assert avg[1] >= avg[0], avg
    assert avg[1] >= 0.4, avg  # nprobe=2 of 8 cells must beat random slices

    seeded = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in vecs.filter(F.col("vec_id") < 8).collect()
    ]
    refined = refined_centroids(vecs, n_centroids=8, n_iter=1)
    assert len(refined) <= 8 and all(len(v) == 16 for _, v in refined)

    def max_cell(cents):
        sizes = (
            vecs.select(ivf_cell_expr(F.col("embedding"), cents).alias("c"))
            .groupBy("c")
            .count()
            .collect()
        )
        return max(r["count"] for r in sizes)

    assert max_cell(refined) <= max_cell(seeded)
