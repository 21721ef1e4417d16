"""Round-12 operator tests: the three hard TPC-H join shapes added this
round (reference: TPC-H spec Q17/Q21/Q2, adapted to the trimmed testdata
schema — see the gate docstrings in __spark_entry__.py).

Each gate's oracle equality is covered by the registry sweep; these tests
prove the LAWS behind the plan choices instead:
- q17: the windowed correlated-scalar equals the group-then-rejoin form;
- q21: the semi/anti pair equals an independent per-order-aggregate
  formulation of EXISTS/NOT-EXISTS, and both joins survive physically;
- q2: ties at the per-part min all surface, the min's domain is the
  region-supplier cut (an out-of-region cheaper offer must not move it),
  and duplicate min-price lineitems collapse to one row.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from tests.conftest import spark  # noqa: F401

SF = "/root/testdata/sf0.001"


def _t(spark, name):
    return spark.read.parquet(os.path.join(SF, f"{name}.parquet"))


def test_q17_window_equals_group_rejoin(spark):
    """The gate computes the correlated 0.2*avg(l_quantity) threshold with
    ONE windowed pass; the textbook decorrelation (aggregate per partkey,
    rejoin) must produce the identical answer — the proof that the
    single-scan plan is a pure physical choice, not a semantic change."""
    got = entry_mod.queries()["tpch_q17"](spark, SF).collect()[0]

    part_cut = (
        _t(spark, "part")
        .filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") < 25))
        .select("p_partkey")
    )
    lj = _t(spark, "lineitem").join(
        part_cut, F.col("l_partkey") == F.col("p_partkey")
    )
    avg_tbl = lj.groupBy(F.col("l_partkey").alias("a_pk")).agg(
        F.avg("l_quantity").alias("a_avg")
    )
    price_e2 = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    want = (
        lj.join(avg_tbl, F.col("l_partkey") == F.col("a_pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("a_avg"))
        .agg(
            F.round(F.sum(price_e2) / 700.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .collect()[0]
    )
    assert got["n_items"] == want["n_items"] > 0
    assert got["avg_yearly"] == want["avg_yearly"]


def test_q21_semi_anti_equals_per_order_aggregate(spark):
    """EXISTS(other supplier) AND NOT EXISTS(other late supplier) has an
    order-level restatement: the order carries >= 2 distinct suppliers and
    EXACTLY ONE distinct late supplier (l1 itself is late, so 'no other
    late' == 'one late'). The gate's semi/anti pipeline must match it row
    for row — run WITHOUT the region cut so the law is checked over every
    supplier, not one region's four."""
    li = _t(spark, "lineitem")
    late = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    orders_f = (
        _t(spark, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )

    # gate shape, region cut dropped
    pairs = li.select(
        F.col("l_orderkey").alias("p_ok"), F.col("l_suppkey").alias("p_sk")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("x_ok"), F.col("l_suppkey").alias("x_sk")
    )
    l1 = late.join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
    l1 = l1.join(
        pairs,
        (l1.l_orderkey == pairs.p_ok) & (l1.l_suppkey != pairs.p_sk),
        "left_semi",
    )
    l1 = l1.join(
        other_late,
        (l1.l_orderkey == other_late.x_ok)
        & (l1.l_suppkey != other_late.x_sk),
        "left_anti",
    )
    got = sorted(
        (r["l_suppkey"], r["cnt"])
        for r in l1.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )

    # independent restatement: one aggregate over the undivided fact
    per_order = li.groupBy(F.col("l_orderkey").alias("g_ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_late"),
    )
    want = sorted(
        (r["l_suppkey"], r["cnt"])
        for r in late.join(
            orders_f, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(per_order, F.col("l_orderkey") == F.col("g_ok"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    assert got == want and len(got) > 0


def test_q21_plan_is_single_scan_minmax(spark):
    """The r15 single-scan rewrite's physical invariants: exactly ONE
    lineitem scan (the EXISTS pair folds into one per-order min/max
    aggregate — a second scan is a regression to the semi/anti form),
    no nested-loop/cartesian anywhere, the orders join holds the MERGE
    anti-broadcast guard (the q9 trap: the 1-col SF-scaling projection
    prices under the static broadcast threshold; merge over
    shuffle_hash because the SHJ build cannot spill — q9's sf100 A/B
    hard-failed on this shape), and the FACT side never sorts — the
    SMJ's sorts sit above the aggregate, on dim-scale inputs."""
    df = entry_mod.queries()["tpch_q21"](spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    scan_blocks = re.split(r"\n(?=\(\d+\) )", plan)
    li_scans = {
        re.match(r"\((\d+)\)", blk).group(1)
        for blk in scan_blocks
        if re.match(r"\(\d+\) Scan parquet\b", blk)
        and "lineitem.parquet" in blk
    }
    assert len(li_scans) == 1
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the fact is consumed UNSORTED: walking up from the lineitem scan,
    # the first aggregate must arrive before any Sort — a Sort below it
    # would be a fact-scale sort. (This replaces an exact global
    # Sort-node count, which pinned unrelated dim-scale Sorts and would
    # flip on any Spark/AQE plan-shape change even with the invariant
    # intact — r15 advice.)
    from bun_csv_spark.plans.lint import _node_blocks, _tree_nodes

    nodes = _tree_nodes(plan)
    blocks = _node_blocks(plan)
    li_idx = [
        i
        for i, (nid, nm, _c) in enumerate(nodes)
        if nm.startswith("Scan parquet")
        and "lineitem.parquet" in blocks.get(nid, "")
    ]
    assert len(li_idx) == 1
    i = li_idx[0]
    col = nodes[i][2]
    ancestors = []
    for j in range(i - 1, -1, -1):
        if nodes[j][2] < col:
            ancestors.append(nodes[j][1])
            col = nodes[j][2]
    aggs = [
        k for k, nm in enumerate(ancestors) if nm.startswith("HashAggregate")
    ]
    assert aggs, f"no aggregate above the fact scan: {ancestors}"
    below_agg = ancestors[: aggs[0]]
    assert not any(
        nm == "Sort" or nm.startswith("Sort ") for nm in below_agg
    ), f"fact-scale Sort crept in below the aggregate: {below_agg}"


def test_q21_minmax_equals_distinct_counts(spark):
    """The r15 gate replaces distinct counting with min/max laws:
    countDistinct(sk) >= 2  iff  min(sk) != max(sk), and
    countDistinct(late sk) == 1  iff  min(late sk) == max(late sk)
    (non-null). The two per-order qualifier sets must be identical over
    the real data, and the gate's waits sum must equal the late-row
    count the countDistinct form implies."""
    li = _t(spark, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_returnflag") == "R").cast("int").alias("is_late"),
    )
    late_sk = F.when(F.col("is_late") == 1, F.col("l_suppkey"))
    per_order = li.groupBy("l_orderkey").agg(
        F.min("l_suppkey").alias("min_sk"),
        F.max("l_suppkey").alias("max_sk"),
        F.min(late_sk).alias("min_late_sk"),
        F.max(late_sk).alias("max_late_sk"),
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(late_sk).alias("n_late_supp"),
        F.sum("is_late").alias("waits"),
    )
    rows = per_order.collect()
    got = {
        r["l_orderkey"]: (r["max_late_sk"], r["waits"])
        for r in rows
        if r["min_sk"] != r["max_sk"]
        and r["min_late_sk"] is not None
        and r["min_late_sk"] == r["max_late_sk"]
    }
    want = {
        r["l_orderkey"]: (r["max_late_sk"], r["waits"])
        for r in rows
        if r["n_supp"] >= 2 and r["n_late_supp"] == 1
    }
    assert got == want and len(got) > 0


import pytest


def test_ann_pq_recall_and_code_col_path(spark):
    """IVF-PQ laws: (1) recall@10 vs brute force is reported and bounded
    (quantization + nprobe=2/4 pruning loses some neighbors — the
    rerank>k design keeps recall usable); (2) scanning PRE-ENCODED int8
    codes (code_col=, the 100 TB serving shape — 8 B/vec instead of
    256 B) returns the identical result, because the encoder is
    deterministic; (3) with the coarse prune off and rerank >= corpus
    size, PQ collapses to exact brute force — the approximation is
    confined to candidate selection."""
    from bun_csv_spark.operators.similarity import (
        ann_brute_force,
        ann_pq_topk,
        pq_encode_expr,
    )

    from gates.similarity import _ANN_PQ_COARSE, _ANN_PQ_CODEBOOKS

    books, coarse = _ANN_PQ_CODEBOOKS, _ANN_PQ_COARSE
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    qvec = list(
        emb.filter(F.col("vec_id") == 3).first()["embedding"]
    )

    pq = ann_pq_topk(
        emb, qvec, books, k=10, rerank=50, coarse_centroids=coarse, nprobe=2
    ).collect()
    brute = ann_brute_force(emb, qvec, k=10).collect()
    recall = len(
        {r["vec_id"] for r in pq} & {r["vec_id"] for r in brute}
    ) / 10
    assert recall >= 0.5, f"recall@10 {recall}"

    encoded = emb.withColumn("pq_code", pq_encode_expr("embedding", books, 64))
    assert dict(encoded.schema["pq_code"].dataType.jsonValue().items())[
        "elementType"
    ] == "byte"
    via_codes = ann_pq_topk(
        encoded, qvec, books, k=10, rerank=50,
        coarse_centroids=coarse, nprobe=2, code_col="pq_code",
    ).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in via_codes] == [
        (r["vec_id"], r["cosine_sim"]) for r in pq
    ]

    full = ann_pq_topk(emb, qvec, books, k=10, rerank=n).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in full] == [
        (r["vec_id"], r["cosine_sim"]) for r in brute
    ]


def test_ann_pq_pinned_literals_reproduce(spark):
    """The gate's pinned codebooks/centroids must be exactly what the
    deterministic trainers emit at sf0.01 — the pin is a cache, not a
    fork: anyone can re-derive it, and a trainer change that would
    silently invalidate the pinned literals fails here."""
    from bun_csv_spark.operators.similarity import (
        pq_train_codebooks,
        refined_centroids,
    )

    from gates.similarity import _ANN_PQ_COARSE, _ANN_PQ_CODEBOOKS

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    books = pq_train_codebooks(emb, dim=64, m=8, ksub=16, iters=2)
    assert books == _ANN_PQ_CODEBOOKS
    coarse = refined_centroids(emb, n_centroids=4, n_iter=1)
    assert coarse == _ANN_PQ_COARSE


def test_scratch_dir_reaper_rules(monkeypatch, tmp_path):
    """The reaper's three r12 rules: (1) a legacy UNSUFFIXED dir (pre-r11
    naming) is reaped once stale; (2) a stale dir whose PID was recycled
    by an unrelated live process (its _OWNER start time disagrees with
    /proc) is reaped; (3) a stale dir with a live owner whose marker
    MATCHES is never reaped."""
    import os
    import time

    from gates.common import _scratch_dir

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None  # force re-read of TMPDIR
    try:
        import hashlib

        base = (
            f"bun_csv_gate_rtest_"
            f"{hashlib.md5(b'/nonexistent_sf').hexdigest()[:8]}"
        )
        old_ts = time.time() - 7 * 3600

        legacy = tmp_path / base
        legacy.mkdir()
        os.utime(legacy, (old_ts, old_ts))

        # PID 1 is alive (init) but its start time can't match a marker
        # from a long-dead creator: plant a wrong start time
        recycled = tmp_path / f"{base}_1"
        recycled.mkdir()
        (recycled / "_OWNER").write_text("1 999999999")
        os.utime(recycled, (old_ts, old_ts))

        # a dir owned by PID 1 with a MATCHING marker must survive
        def start_of(pid):
            with open(f"/proc/{pid}/stat", "rb") as fh:
                st = fh.read()
            return int(st[st.rindex(b")") + 2:].split()[19])

        mine = _scratch_dir("rtest", "/nonexistent_sf")
        assert os.path.isdir(mine) and os.path.exists(
            os.path.join(mine, "_OWNER")
        )
        assert not legacy.exists(), "stale legacy dir must be reaped"
        assert not recycled.exists(), "recycled-PID stale dir must be reaped"

        # matching marker: recreate with pid 1's real start time
        survivor = tmp_path / f"{base}_1"
        survivor.mkdir()
        (survivor / "_OWNER").write_text(f"1 {start_of(1)}")
        os.utime(survivor, (old_ts, old_ts))
        _scratch_dir("rtest", "/nonexistent_sf")
        assert survivor.exists(), "live-owner dir must never be reaped"
    finally:
        tempfile.tempdir = None


def test_avi_decode_ignores_foreign_stream_chunks():
    """A second stream's '01dc' chunks are not ours: the header parser
    returns the single 'vids' stream 00, so the decoder must skip
    foreign movi chunks instead of interleaving them (and then tripping
    the frame-count check). Planted by byte surgery: a junk '01dc'
    chunk spliced into movi with the LIST/RIFF sizes fixed up."""
    import struct

    from bun_csv_spark.multimodal.binary import (
        _avi_frame_spans,
        _avi_macroblock_fixture,
        _riff_chunks,
        decode_avi_frames,
        make_avi_mjpeg_payload,
    )

    avi = make_avi_mjpeg_payload(_avi_macroblock_fixture(5, 3), 40000)
    want = decode_avi_frames(avi)

    end = 8 + struct.unpack_from("<I", avi, 4)[0]
    movi_off = next(
        off for fourcc, off, _ in _riff_chunks(avi, 12, end)
        if fourcc == b"LIST" and avi[off:off + 4] == b"movi"
    )
    foreign = b"01dc" + struct.pack("<I", 4) + b"JUNK"
    planted = bytearray(
        avi[: movi_off + 4] + foreign + avi[movi_off + 4 :]
    )
    for size_at in (4, movi_off - 4):  # RIFF size, movi LIST size
        struct.pack_into(
            "<I", planted, size_at,
            struct.unpack_from("<I", planted, size_at)[0] + len(foreign),
        )
    planted = bytes(planted)

    w, h, uspf, spans = _avi_frame_spans(planted)
    assert len(spans) == 3
    got = decode_avi_frames(planted)
    assert got[:3] == want[:3]
    assert all((a == b).all() for a, b in zip(got[3], want[3]))


@pytest.mark.parametrize("m_bits", [64, 1 << 16])
def test_incremental_neardup_bloom_prune_is_exact(spark, tmp_path, m_bits):
    """The band-store bloom pre-prune must be invisible in the emitted
    pairs AND in the committed store: bloom has no false negatives, so
    every history row of a today-touched (band, bucket) survives —
    keeping the prefix-cap's cumulative count exact for every bucket
    that can pair — at ANY false-positive rate (m_bits=64 over dozens
    of distinct buckets forces heavy FPs; 64 Kbit is the realistic
    regime). Checked with the cap ON so the cap-interaction law is
    exercised, not just the join."""
    from bun_csv_spark.operators.dedup import (
        incremental_neardup_update,
        load_fingerprint_store,
    )

    base = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox number "),
            (F.col("id") % 9).cast("string"),
            F.lit(" jumps over the lazy dog again and again"),
        ).alias("text"),
    )
    docs = base.unionAll(
        base.select(
            (F.col("doc_id") + 100).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" the end")).alias("text"),
        )
    )

    def run(tag, **kw):
        store = str(tmp_path / tag)
        got = []
        for d in range(3):
            pairs = incremental_neardup_update(
                spark,
                docs.filter(F.col("doc_id") % 3 == d),
                store,
                d,
                max_bucket=3,
                **kw,
            )
            got += [(d, r["id_a"], r["id_b"]) for r in pairs.collect()]
        store_rows = sorted(
            (r["doc_id"], r["band"], r["bucket"])
            for r in load_fingerprint_store(spark, store).collect()
        )
        return sorted(got), store_rows

    assert run("plain") == run("bloom", bloom_bits=m_bits)


def test_q2_min_ties_domain_and_distinct(spark, tmp_path):
    """Planted-fixture laws for the min-per-group correlated subquery:
    (1) two region suppliers tied at the min BOTH surface; (2) a cheaper
    out-of-region offer does NOT move the min (the subquery's domain is
    the region cut); (3) duplicate min-price lineitems of one
    (part, supplier) collapse to one output row."""
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "NATION_A", 1), (2, "NATION_B", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.parquet(os.path.join(sf, "nation.parquet"))
    spark.createDataFrame(
        [
            (1, "Supp#1", 100.0, 1),
            (2, "Supp#2", 200.0, 1),
            (3, "Supp#3", 300.0, 2),
        ],
        "s_suppkey bigint, s_name string, s_acctbal double, s_nationkey int",
    ).write.parquet(os.path.join(sf, "supplier.parquet"))
    spark.createDataFrame(
        [(10, "part ten", 15), (11, "part eleven", 15), (12, "part twelve", 9)],
        "p_partkey bigint, p_name string, p_size int",
    ).write.parquet(os.path.join(sf, "part.parquet"))
    spark.createDataFrame(
        [
            # part 10: supp1 unit 10.0 and supp2 unit 10.0 -> tie, both out
            (10, 1, 100.0, 10.0),
            (10, 2, 50.0, 5.0),
            # part 10: supp1 also offers unit 30.0 -> loses
            (10, 1, 300.0, 10.0),
            # part 10: OUT-OF-REGION supp3 unit 5.0 -> must not move the min
            (10, 3, 50.0, 10.0),
            # part 11: supp2 unit 7.0 twice -> DISTINCT collapses to 1 row
            (11, 2, 70.0, 10.0),
            (11, 2, 70.0, 10.0),
            # part 12 is size 9 -> cut away
            (12, 1, 10.0, 10.0),
        ],
        "l_partkey bigint, l_suppkey bigint, l_extendedprice double,"
        " l_quantity double",
    ).write.parquet(os.path.join(sf, "lineitem.parquet"))

    rows = entry_mod.queries()["tpch_q2"](spark, sf).collect()
    got = sorted((r["p_partkey"], r["s_name"], r["unit_price"]) for r in rows)
    assert got == [
        (10, "Supp#1", 10.0),
        (10, "Supp#2", 10.0),
        (11, "Supp#2", 7.0),
    ]
