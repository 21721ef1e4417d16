"""Round-9 operator tests: per-group KMV states (grouped bottom-k set
algebra), the auto-salt decision helpers, and supporting fixes."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import spark  # noqa: F401


# --- per-group KMV -----------------------------------------------------------


def _tagged(spark, groups):
    """groups: {name: (start, stop)} -> (g, v) rows of stringified ints."""
    parts = [
        spark.range(a, b).select(
            F.lit(g).alias("g"), F.col("id").cast("string").alias("v")
        )
        for g, (a, b) in groups.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def test_kmv_state_by_bounds_and_exact_below_k(spark):
    """Each group's state holds at most k rows; a group with fewer than k
    distinct values holds its ENTIRE distinct hash set (exact path)."""
    from bun_csv_spark.functions.sketches import kmv_state_by

    df = _tagged(spark, {"big": (0, 5000), "small": (0, 40)})
    st = kmv_state_by(df, ["g"], "v", k=128)
    counts = {r["g"]: r["n"] for r in st.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 128, "small": 40}


def test_kmv_set_estimates_by_accuracy_and_one_sided_groups(spark):
    """Planted per-group overlap: group x has A=0..4999, B=2500..7499
    (truth J=1/3); group y exists only on side A (exact figures, J=0);
    group z only on side B. k=256 must land within ~3/sqrt(k) of truth
    for x and be EXACT for the one-sided groups."""
    from bun_csv_spark.functions.sketches import kmv_set_estimates_by, kmv_state_by

    a = _tagged(spark, {"x": (0, 5000), "y": (0, 60)})
    b = _tagged(spark, {"x": (2500, 7500), "z": (100, 180)})
    k = 256
    out = kmv_set_estimates_by(
        kmv_state_by(a, ["g"], "v", k), kmv_state_by(b, ["g"], "v", k), ["g"], k
    )
    rows = {r["g"]: r for r in out.collect()}
    assert set(rows) == {"x", "y", "z"}
    x = rows["x"]
    for col, truth in [
        ("est_distinct_a", 5000), ("est_distinct_b", 5000),
        ("est_union", 7500), ("est_intersection_e4", 2500 * 10_000),
        ("est_jaccard_e4", 10_000 / 3),
    ]:
        assert abs(x[col] - truth) / truth < 0.20, (col, x[col], truth)
    y = rows["y"]
    assert (y["est_distinct_a"], y["est_distinct_b"]) == (60.0, 0.0)
    assert y["est_union"] == 60.0
    assert y["est_intersection_e4"] == 0 and y["est_jaccard_e4"] == 0
    z = rows["z"]
    assert (z["est_distinct_a"], z["est_distinct_b"]) == (0.0, 80.0)
    assert z["est_jaccard_e4"] == 0


def test_kmv_merge_by_associative_and_equals_union_state(spark):
    """The per-group mergeable-family law: any merge grouping of shard
    states equals the state built from the unioned input, PER GROUP —
    what lets a nightly job fold per-domain shard sketches into
    yesterday's per-domain state."""
    from bun_csv_spark.functions.sketches import kmv_merge_by, kmv_state_by

    k = 64
    shards = [
        _tagged(spark, {"d1": (i * 500, i * 500 + 700), "d2": (i * 300, i * 300 + 350)})
        for i in range(3)
    ]
    states = [kmv_state_by(s, ["g"], "v", k) for s in shards]
    left = kmv_merge_by(
        kmv_merge_by(states[0], states[1], group_cols=["g"], k=k),
        states[2], group_cols=["g"], k=k,
    )
    right = kmv_merge_by(
        states[0],
        kmv_merge_by(states[1], states[2], group_cols=["g"], k=k),
        group_cols=["g"], k=k,
    )
    whole = kmv_state_by(
        shards[0].unionByName(shards[1]).unionByName(shards[2]), ["g"], "v", k
    )
    key = lambda df: sorted((r["g"], r["h"]) for r in df.collect())
    assert key(left) == key(right) == key(whole)
    per_group = {
        r["g"]: r["n"]
        for r in whole.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    assert per_group["d1"] == k  # estimator path actually exercised


# --- 4:2:0 JPEG --------------------------------------------------------------


def test_jpeg_420_macroblock_constant_roundtrip_lossless():
    """Gray-valued color constant per 16x16 macroblock + flat quant:
    chroma box-average of a constant is the constant, replication
    upsample restores it, the DCT round trip is exact — the property
    the multimodal_jpeg_420 oracle relies on."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_color_payload,
        parse_image_dims,
    )

    rng = np.random.default_rng(5)
    mb = rng.integers(0, 256, (3, 2), dtype=np.uint8)
    px = np.repeat(np.repeat(mb, 16, 0), 16, 1)
    bgr = np.stack([px, px, px], -1)
    b = make_jpeg_color_payload(32, 48, bgr.tobytes(), subsampling="420")
    assert parse_image_dims(b) == (32, 48)
    w, h, out = decode_jpeg_pixels(b)
    assert (w, h) == (32, 48)
    assert (out == bgr).all()


def test_jpeg_420_block_placement_not_symmetric():
    """Distinct per-macroblock values in an asymmetric grid: any MCU
    raster-order or Y-block placement bug scrambles which value lands
    where — decoded pixels must match position by position (the 4:2:0
    analogue of the r8 scan-order regression test)."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_color_payload,
    )

    mb = np.arange(12, dtype=np.uint8).reshape(3, 4) * 20
    px = np.repeat(np.repeat(mb, 16, 0), 16, 1)
    bgr = np.stack([px, px, px], -1)
    _, _, out = decode_jpeg_pixels(
        make_jpeg_color_payload(64, 48, bgr.tobytes(), subsampling="420")
    )
    assert (out == bgr).all()


def test_jpeg_420_general_color_luma_bounded_and_compresses():
    """Arbitrary color at non-multiple-of-16 dims: the full-res Y
    channel must reconstruct within ~2 levels wherever no RGB clipping
    occurs (chroma loss is by design at quarter resolution), and the
    4:2:0 payload must be smaller than the 4:4:4 one (2 chroma blocks
    per MCU instead of 8)."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_color_payload,
    )

    rng = np.random.default_rng(13)
    img = rng.integers(60, 196, (37, 45, 3), dtype=np.uint8)  # clip-free band
    b420 = make_jpeg_color_payload(45, 37, img.tobytes(), subsampling="420")
    b444 = make_jpeg_color_payload(45, 37, img.tobytes(), subsampling="444")
    assert len(b420) < len(b444)
    w, h, out = decode_jpeg_pixels(b420)
    assert (w, h) == (45, 37)

    def luma(a):
        return 0.114 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.299 * a[:, :, 2]

    err = np.abs(luma(out.astype(float)) - luma(img.astype(float))).max()
    assert err <= 2.5, err


def test_jpeg_422_also_decodes():
    """The sampling generalization is not 4:2:0-specific: 4:2:2
    (Y 2x1) frames decode too — constant 16x8 tiles, exact."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        _encode_baseline,
        decode_jpeg_pixels,
    )

    mb = np.array([[40, 200], [90, 150]], dtype=np.uint8)
    px = np.repeat(np.repeat(mb, 8, 0), 16, 1).astype(np.float64)  # 16x32
    b = _encode_baseline([px, np.full_like(px, 128.0), np.full_like(px, 128.0)],
                         32, 16, None, samp=[(2, 1), (1, 1), (1, 1)])
    w, h, out = decode_jpeg_pixels(b)
    assert (w, h) == (32, 16)
    assert (out[:, :, 0] == px.astype(np.uint8)).all()


# --- per-key KMV as the fifth nightly-state family ---------------------------

from tests.test_round8_ops import _NIGHTLY_ARGS, _nightly_day  # noqa: E402


def test_daily_state_update_kmv_family_equals_single_pass(spark, tmp_path):
    """kmv_k threads the per-key bottom-k family through build, merge,
    and persistence: three nightly updates must land on EXACTLY the
    per-key state one pass over all three days builds (the mergeable-
    family law, persisted), alongside the four core families, and a
    read-only load of the dir serves that same state."""
    from bun_csv_spark.functions.sketches import kmv_state_by
    from bun_csv_spark.operators.maintenance import (
        daily_state_update,
        load_pipeline_state,
    )

    state_dir = str(tmp_path / "state")
    for d in range(3):
        final = daily_state_update(
            spark, _nightly_day(spark, d), state_dir, *_NIGHTLY_ARGS, kmv_k=32
        )
    assert set(final) == {"agg", "hll", "hist", "cm", "kmv"}
    union = (
        _nightly_day(spark, 0)
        .unionByName(_nightly_day(spark, 1))
        .unionByName(_nightly_day(spark, 2))
    )
    whole = kmv_state_by(union, ["k"], "u", k=32)
    got = sorted((r["k"], r["h"]) for r in final["kmv"].collect())
    want = sorted((r["k"], r["h"]) for r in whole.collect())
    assert got == want
    counts = {
        r["k"]: r["n"]
        for r in final["kmv"].groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert max(counts.values()) == 32  # bounded AND the estimator path hit

    st = load_pipeline_state(spark, state_dir)
    assert set(st) == {"agg", "hll", "hist", "cm", "kmv"}
    assert sorted((r["k"], r["h"]) for r in st["kmv"].collect()) == want
    with pytest.raises(ValueError, match="no complete generation"):
        load_pipeline_state(spark, str(tmp_path / "nope"))


def test_daily_state_update_kmv_family_cannot_appear_late(spark, tmp_path):
    """A state dir bootstrapped WITHOUT the kmv family has already
    discarded the history the family would need — asking for it later
    must raise, not silently return a one-day sketch."""
    from bun_csv_spark.operators.maintenance import daily_state_update

    state_dir = str(tmp_path / "state")
    daily_state_update(spark, _nightly_day(spark, 0), state_dir, *_NIGHTLY_ARGS)
    with pytest.raises(ValueError, match="kmv"):
        daily_state_update(
            spark, _nightly_day(spark, 1), state_dir, *_NIGHTLY_ARGS, kmv_k=32
        )


def test_jpeg_single_component_scan_is_noninterleaved():
    """T.81 A.2: a single-component scan is NON-interleaved — blocks in
    pure raster order, MCU = one data unit — regardless of the SOF
    sampling factors. A grayscale frame DECLARING 2x2 factors must
    round-trip exactly (block-constant fixture): treating it as 16x16
    interleaved MCUs would scramble block placement."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import _encode_baseline, decode_jpeg_pixels

    rng = np.random.default_rng(17)
    g = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    px = np.repeat(np.repeat(g, 8, 0), 8, 1).astype(np.float64)  # 40x24
    b = _encode_baseline([px], 24, 40, None, samp=[(2, 2)])
    sof = b.index(b"\xff\xc0")
    assert b[sof + 11] == 0x22  # factors really are declared 2x2
    w, h, out = decode_jpeg_pixels(b)
    assert (w, h) == (24, 40)
    assert (out[:, :, 0] == px.astype(np.uint8)).all()


def test_streaming_kmv_state_equals_batch(spark, tmp_path):
    """The streamed per-key bottom-k state after a 3-micro-batch replay
    must equal kmv_state_by over the unioned input EXACTLY (deterministic
    md5 hashes + order/batching-free bottom-k merge), and intermediate
    versions must be monotone per key."""
    from pyspark.sql import Window

    from bun_csv_spark.functions.sketches import kmv_state_by
    from bun_csv_spark.streaming.windows import run_stream_to_table, streaming_kmv_state

    src = tmp_path / "src"
    parts = []
    for i in range(3):
        part = spark.range(i * 400, (i + 1) * 400 + 100).select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.col("id").cast("string").alias("v"),
        )
        part.coalesce(1).write.mode("append").parquet(str(src))
        parts.append(part)

    out = run_stream_to_table(
        spark,
        str(src),
        lambda s: streaming_kmv_state(s, "g", "v", k=32),
        output_mode="update",
        max_files_per_trigger=1,
    )
    final = (
        out.withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("g").orderBy(F.col("version").desc())
            ),
        )
        .filter(F.col("__rk") == 1)
        .select("g", F.explode("hs").alias("h"))
    )
    union = parts[0].unionByName(parts[1]).unionByName(parts[2])
    want = kmv_state_by(union, ["g"], "v", k=32)
    got_rows = sorted((r["g"], r["h"]) for r in final.collect())
    want_rows = sorted((r["g"], r["h"]) for r in want.collect())
    assert got_rows == want_rows and len(got_rows) == 3 * 32
    # every key saw multiple micro-batch updates
    vmax = {r["g"]: r["m"] for r in out.groupBy("g").agg(F.max("version").alias("m")).collect()}
    assert all(v >= 2 for v in vmax.values()), vmax


def test_jpeg_420_macroblock_constant_property():
    """Hypothesis property: ANY gray-valued color image constant per
    16x16 macroblock (any grid up to 4x4, any values) round-trips
    bit-exactly through the 4:2:0 encode+decode — the invariant the
    multimodal_jpeg_420 oracle is built on, pinned across the input
    space rather than one fixture."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_color_payload,
    )

    @settings(max_examples=20, deadline=None)
    @given(
        wb=st.integers(1, 4),
        hb=st.integers(1, 4),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(wb, hb, seed):
        g = np.random.default_rng(seed).integers(0, 256, (hb, wb), np.uint8)
        px = np.repeat(np.repeat(g, 16, 0), 16, 1)
        bgr = np.stack([px, px, px], -1)
        w, h, out = decode_jpeg_pixels(
            make_jpeg_color_payload(wb * 16, hb * 16, bgr.tobytes(),
                                    subsampling="420")
        )
        assert (w, h) == (wb * 16, hb * 16)
        assert (out == bgr).all()

    prop()


def test_kmv_bottom_k_prune_property(spark):
    """Hypothesis property: for ANY partition of a value universe into
    shards and ANY k, kmv_state_by(k) of the union equals the k
    smallest distinct hashes computed directly — i.e. the two-level
    prune is EXACT and sharding-invariant (the correctness the
    corpus_overlap_by_domain oracle and nightly kmv family lean on).
    Driver-side reference, Spark-side operator."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bun_csv_spark.functions.sketches import kmv_state_by, md5_uniform_long

    @settings(max_examples=8, deadline=None)
    @given(
        n=st.integers(10, 400),
        k=st.sampled_from([4, 16, 64]),
        buckets=st.sampled_from([1, 4, 32]),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(n, k, buckets, seed):
        import random

        rnd = random.Random(seed)
        vals = [str(rnd.randrange(10 * n)) for _ in range(n)]
        df = spark.createDataFrame([("g", v) for v in vals], ["g", "v"])
        got = sorted(
            r["h"]
            for r in kmv_state_by(df, ["g"], "v", k=k, prune_buckets=buckets).collect()
        )
        ref_hashes = sorted(
            r["h"]
            for r in df.select(md5_uniform_long("v", "kmv").alias("h"))
            .distinct()
            .collect()
        )[:k]
        assert got == ref_hashes

    prop()
