"""Round-8 operator tests: incremental pipeline composition and
cross-modality leakage-safe splits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --- incremental day pipeline ----------------------------------------------


def test_incremental_day_pipeline_invariants(spark):
    """The composed gate at sf0.001: one summary row per event_type with
    every family's invariants holding — CM never underestimates (est >=
    exact n, and here the sketched key IS the group key so est_count_cm
    bounds n from above), quantiles ordered, moments consistent."""
    from gates.incremental import q_incremental_day_pipeline

    rows = q_incremental_day_pipeline(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 1
    for r in rows:
        assert r["min_c"] <= r["max_c"]
        assert r["p50"] <= r["p90"]
        assert r["est_count_cm"] >= r["n"]  # count-min one-sided error
        assert r["est_distinct_users"] > 0
        assert r["min_c"] <= r["mean_c_e4"] / 10_000 <= r["max_c"]


# --- KMV set algebra ---------------------------------------------------------


def test_kmv_set_estimates_accuracy(spark):
    """Planted overlap: A = 0..9999, B = 5000..14999 hashed as strings —
    truth |A|=|B|=10000, |A∪B|=15000, |A∩B|=5000, J=1/3. k=512 KMV
    states must land within ~3/sqrt(k) (≈13%) of truth on every figure."""
    from bun_csv_spark.functions.sketches import kmv_set_estimates, kmv_state

    a = spark.range(0, 10_000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(5_000, 15_000).select(F.col("id").cast("string").alias("v"))
    row = kmv_set_estimates(
        kmv_state(a, "v", 512), kmv_state(b, "v", 512), 512
    ).collect()[0]
    for col, truth in [
        ("est_distinct_a", 10_000), ("est_distinct_b", 10_000),
        ("est_union", 15_000), ("est_intersection_e4", 5_000 * 10_000),
        ("est_jaccard_e4", 10_000 / 3),
    ]:
        assert abs(row[col] - truth) / truth < 0.14, (col, row[col], truth)


def test_kmv_state_ignores_nulls(spark):
    """A NULL value hashes to NULL, which ascending sort would place
    FIRST — displacing a real bottom-k hash and corrupting every
    estimate (and DuckDB sorts NULLs LAST, so the oracle would diverge).
    Two identical small sets with NULLs must report exact equality."""
    from bun_csv_spark.functions.sketches import kmv_set_estimates, kmv_state

    rows = [("a",), ("b",), ("c",), (None,)]
    df = spark.createDataFrame(rows, ["v"])
    st = kmv_state(df, "v", 8)
    assert all(r["h"] is not None for r in st.collect())
    row = kmv_set_estimates(st, kmv_state(df, "v", 8), 8).collect()[0]
    assert row["est_distinct_a"] == 3.0
    assert row["est_jaccard_e4"] == 10_000
    assert row["est_intersection_e4"] == 3 * 10_000


def test_kmv_merge_associative_and_equals_union_state(spark):
    """The mergeable-family law for KMV: any merge grouping of shard
    states equals the state built from the unioned input — the property
    that lets a daily pipeline fold new shards into yesterday's state."""
    from bun_csv_spark.functions.sketches import kmv_merge, kmv_state

    parts = [
        spark.range(i * 2000, (i + 1) * 2000 + 500).select(
            F.col("id").cast("string").alias("v")
        )
        for i in range(3)
    ]
    k = 128
    states = [kmv_state(p, "v", k) for p in parts]
    left = kmv_merge(kmv_merge(states[0], states[1], k=k), states[2], k=k)
    right = kmv_merge(states[0], kmv_merge(states[1], states[2], k=k), k=k)
    whole = kmv_state(parts[0].unionByName(parts[1]).unionByName(parts[2]), "v", k)
    a = sorted(r["h"] for r in left.collect())
    b = sorted(r["h"] for r in right.collect())
    c = sorted(r["h"] for r in whole.collect())
    assert a == b == c and len(a) == k


def test_kmv_set_estimates_exact_below_k(spark):
    """Inputs smaller than k: the states hold the full distinct sets, so
    every figure must be EXACT, including the intersection."""
    from bun_csv_spark.functions.sketches import kmv_set_estimates, kmv_state

    a = spark.range(0, 100).select(F.col("id").cast("string").alias("v"))
    b = spark.range(60, 160).select(F.col("id").cast("string").alias("v"))
    row = kmv_set_estimates(
        kmv_state(a, "v", 512), kmv_state(b, "v", 512), 512
    ).collect()[0]
    assert row["est_distinct_a"] == 100.0
    assert row["est_distinct_b"] == 100.0
    assert row["est_union"] == 160.0
    assert row["est_intersection_e4"] == 40 * 10_000
    assert row["est_jaccard_e4"] == 2_500


def test_kmv_set_estimates_empty_states(spark):
    """Two EMPTY states make K = 0: the rho/K-derived figures must be a
    well-defined 0 (not a divide-by-zero NULL, nor an error under
    spark.sql.ansi.enabled)."""
    from bun_csv_spark.functions.sketches import kmv_set_estimates, kmv_state

    empty = spark.createDataFrame([], "v string")
    row = kmv_set_estimates(
        kmv_state(empty, "v", 8), kmv_state(empty, "v", 8), 8
    ).collect()[0]
    assert row["est_distinct_a"] == 0.0
    assert row["est_union"] == 0.0
    assert row["est_intersection_e4"] == 0
    assert row["est_jaccard_e4"] == 0


# --- banded Hamming pairing: guaranteed-recall banding ----------------------


def test_hamming_pairs64_n_bands_recall(spark):
    """A distance-7 pair whose flips hit all four 16-bit quarters is
    deterministically MISSED by the default 4 bands (the documented
    contract) and FOUND with n_bands=8 (pigeonhole: 7 flips can't cover
    8 bands)."""
    from bun_csv_spark.operators.dedup import hamming_pairs64

    base = 0x1111222233334444
    # 7 flips spread over all 4 quarters (2+2+2+1), but covering only
    # 7 of the 8 eight-bit bands
    flips = [0, 1, 16, 17, 32, 33, 48]
    other = base
    for f in flips:
        other ^= 1 << f
    df = spark.createDataFrame([(1, base), (2, other)], ["doc_id", "fp"])
    missed = hamming_pairs64(df, "doc_id", "fp", max_hamming=8).collect()
    assert missed == [], missed  # every 16-bit quarter differs
    found = hamming_pairs64(df, "doc_id", "fp", max_hamming=8, n_bands=8).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in found] == [(1, 2, 7)]
    with pytest.raises(ValueError, match="divide"):
        hamming_pairs64(df, "doc_id", "fp", n_bands=3)


# --- JPEG baseline codec ----------------------------------------------------


def test_jpeg_block_constant_roundtrip_lossless():
    """Flat quant + block-constant pixels: the DCT round trip must be
    EXACT (constant block => DC = 8*(c-128), AC = 0) — the property the
    multimodal_jpeg_pixels oracle relies on."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_gray_payload,
        parse_image_dims,
    )

    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, (3, 5), dtype=np.uint8)
    px = np.repeat(np.repeat(g, 8, 0), 8, 1)
    b = make_jpeg_gray_payload(40, 24, px.tobytes())
    w, h, out = decode_jpeg_pixels(b)
    assert (w, h) == (40, 24)
    assert parse_image_dims(b) == (40, 24)  # SOF header parses too
    for c in range(3):
        assert (out[:, :, c] == px).all()


def test_jpeg_general_image_near_lossless():
    """Arbitrary pixels, non-multiple-of-8 dims: flat quant keeps the
    decode within 1 gray level of the input (float DCT rounding only);
    a real quant table compresses and stays bounded by quant/2-ish."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_gray_payload,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (41, 53), dtype=np.uint8)
    flat = make_jpeg_gray_payload(53, 41, img.tobytes())
    w, h, out = decode_jpeg_pixels(flat)
    assert (w, h) == (53, 41)
    assert np.abs(out[:, :, 0].astype(int) - img.astype(int)).max() <= 2
    lossy = make_jpeg_gray_payload(53, 41, img.tobytes(), quant=[16] * 64)
    assert len(lossy) < len(flat)  # real entropy coding actually compresses
    _, _, out16 = decode_jpeg_pixels(lossy)
    assert np.abs(out16[:, :, 0].astype(int) - img.astype(int)).max() <= 64


def test_jpeg_block_constant_property():
    """Hypothesis property: ANY block-constant grayscale image (any
    block grid up to 6x6, any gray values) round-trips bit-exactly under
    the flat quant table — the invariant the oracle gate is built on,
    pinned across the whole input space rather than one fixture."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_gray_payload,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        wb=st.integers(1, 6),
        hb=st.integers(1, 6),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(wb, hb, seed):
        g = np.random.default_rng(seed).integers(0, 256, (hb, wb), np.uint8)
        px = np.repeat(np.repeat(g, 8, 0), 8, 1)
        w, h, out = decode_jpeg_pixels(
            make_jpeg_gray_payload(wb * 8, hb * 8, px.tobytes())
        )
        assert (w, h) == (wb * 8, hb * 8)
        assert (out[:, :, 0] == px).all()

    prop()


def test_jpeg_color_roundtrip():
    """3-component 4:4:4 color: encode BGR -> YCbCr -> baseline JPEG,
    decode back through the interleaved-MCU + YCbCr->RGB path; flat
    quant on block-constant input stays within 2 levels per channel
    (one rint at DCT quantization, one at output)."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_color_payload,
    )

    rng = np.random.default_rng(3)
    g = rng.integers(0, 256, (2, 4, 3), dtype=np.uint8)
    px = np.repeat(np.repeat(g, 8, 0), 8, 1)  # 16x32 BGR, block-constant
    b = make_jpeg_color_payload(32, 16, px.tobytes())
    w, h, out = decode_jpeg_pixels(b)
    assert (w, h) == (32, 16)
    err = np.abs(out.astype(int) - px.astype(int)).max()
    assert err <= 2, err


def test_jpeg_scan_order_respected():
    """T.81 interleaves MCU blocks in SOS (scan) order, which may differ
    from SOF (frame) order. Patch a color file's SOS list from (1,2,3)
    to (3,2,1): the entropy stream is unchanged, so its first block now
    belongs to component 3 — the correct decode equals a file whose
    planes were encoded in that swapped order natively."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import _encode_baseline, decode_jpeg_pixels

    rng = np.random.default_rng(9)
    g = rng.integers(0, 256, (2, 3, 3), dtype=np.uint8)
    px = np.repeat(np.repeat(g, 8, 0), 8, 1).astype(np.float64)
    y, cb, cr = px[:, :, 0], px[:, :, 1], px[:, :, 2]  # arbitrary planes
    f_norm = _encode_baseline([y, cb, cr], 24, 16, None)
    f_swapped_planes = _encode_baseline([cr, cb, y], 24, 16, None)

    # patch SOS component list (1,2,3) -> (3,2,1); stream bytes unchanged
    i = f_norm.index(b"\xff\xda")
    sos = bytearray(f_norm[i : i + 4 + 1 + 6 + 3])
    assert sos[5] == 1 and sos[7] == 2 and sos[9] == 3
    sos[5], sos[9] = 3, 1
    f_patched = f_norm[:i] + bytes(sos) + f_norm[i + len(sos) :]

    _, _, out_patched = decode_jpeg_pixels(f_patched)
    _, _, out_swapped = decode_jpeg_pixels(f_swapped_planes)
    _, _, out_norm = decode_jpeg_pixels(f_norm)
    assert (out_patched == out_swapped).all()
    assert not (out_patched == out_norm).all()  # the orders genuinely differ


def test_jpeg_nonflat_quant_table_ordering():
    """A NON-uniform quant table pins the zigzag ordering of DQT vs the
    coefficient stream: if encoder and decoder disagreed on the scan
    order, dequantization would garble high-frequency content far past
    the per-coefficient quantization bound."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_gray_payload,
    )

    # K.1-style ramp: DC fine, AC increasingly coarse
    quant = [1 + (i // 8) * 2 + (i % 8) * 2 for i in range(64)]
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    bts = make_jpeg_gray_payload(24, 24, img.tobytes(), quant=quant)
    _, _, out = decode_jpeg_pixels(bts)
    err = np.abs(out[:, :, 0].astype(int) - img.astype(int)).mean()
    # worst-case per-coefficient error ~ q/2; mis-ordered tables measured
    # ~4x this bound
    assert err <= 12, err


def test_jpeg_decode_image_dispatch_and_errors():
    import pytest as _pytest

    from bun_csv_spark.multimodal.binary import decode_image, make_jpeg_gray_payload

    b = make_jpeg_gray_payload(8, 8, bytes(64))
    w, h, out = decode_image(b)
    assert (w, h) == (8, 8) and (out == 0).all()
    with _pytest.raises(ValueError):
        decode_image(b"\x00\x01not an image")
    # progressive SOF2 must raise, not mis-decode
    prog = bytearray(b)
    prog[prog.index(b"\xff\xc0")+1] = 0xC2
    with _pytest.raises(ValueError, match="progressive"):
        decode_image(bytes(prog))


def test_jpeg_truncated_entropy_raises_valueerror():
    """A payload cut mid-entropy-segment must raise the ValueError
    malformed-input contract (like progressive/subsampled inputs), not
    leak an IndexError from the bit reader."""
    import pytest as _pytest

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_gray_payload,
    )

    b = make_jpeg_gray_payload(24, 24, bytes(range(192)) * 3)
    sos = b.index(b"\xff\xda")
    for cut in (sos + 14, sos + 20, len(b) - 3):
        with _pytest.raises(ValueError, match="truncated|marker|Huffman"):
            decode_jpeg_pixels(b[:cut])


# --- cross-modality leakage-safe split -------------------------------------


def test_multimodal_split_components_move_as_unit(spark):
    """The contamination guarantee: every near-dup edge — whichever
    modality produced it — must land both endpoints in the SAME split,
    and at least one enforced pair must come from a non-text modality
    (otherwise the gate degenerates to the text-only cluster_split)."""
    from bun_csv_spark.multimodal.binary import (
        attach_bmp_payload,
        attach_pcm_wav_payload,
        extract_audio_fingerprint,
        extract_dhash,
    )
    from bun_csv_spark.operators.dedup import hamming_pairs64, neardup_pairs_minhash
    from gates.common import _neardup_corpus, _t
    from gates.multimodal import q_multimodal_cluster_split

    sf_dir = "/root/testdata/sf0.001"
    split = {
        r["doc_id"]: (r["split"], r["split_group"])
        for r in q_multimodal_cluster_split(spark, sf_dir).collect()
    }

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    twins = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("doc_id").alias("src")
    )
    tpairs = {
        (r["id_a"], r["id_b"])
        for r in neardup_pairs_minhash(
            _neardup_corpus(spark, sf_dir), "doc_id", "text",
            n_hashes=8, bands=4, shingle_k=5,
        ).select("id_a", "id_b").collect()
    }
    ih = (
        extract_dhash(attach_bmp_payload(docs, texture=True))
        .unionByName(
            extract_dhash(
                attach_bmp_payload(twins, src_col="src", bias=5, texture=True)
                .select("doc_id", "payload")
            )
        )
        .filter((F.col("width") >= 8) & (F.col("height") >= 8))
        .select("doc_id", "dhash")
    )
    ipairs = {
        (r["id_a"], r["id_b"])
        for r in hamming_pairs64(ih, "doc_id", "dhash", max_hamming=8)
        .select("id_a", "id_b").collect()
    }
    af = (
        extract_audio_fingerprint(attach_pcm_wav_payload(docs, texture=True))
        .unionByName(
            extract_audio_fingerprint(
                attach_pcm_wav_payload(twins, src_col="src", bias=4, texture=True)
                .select("doc_id", "payload")
            )
        )
        .select("doc_id", "fingerprint")
    )
    apairs = {
        (r["id_a"], r["id_b"])
        for r in hamming_pairs64(af, "doc_id", "fingerprint", max_hamming=8)
        .select("id_a", "id_b").collect()
    }

    edges = tpairs | ipairs | apairs
    assert edges, "no near-dup edges at all — fixture broken"
    for a, b in edges:
        assert split[a][0] == split[b][0], (a, b, split[a], split[b])
        assert split[a][1] == split[b][1], (a, b)

    nontext = (ipairs | apairs) - tpairs
    assert nontext, "every edge is a text edge — gate adds nothing over cluster_split"
    # and the planted perceptual twin (doc, doc+100000) must co-travel
    planted = [(a, b) for a, b in nontext if b == a + 100000 or a == b + 100000]
    assert planted, "no planted cross-modality twin pair found"


def test_daily_state_update_equals_single_pass(spark, tmp_path):
    """The nightly-job API end-to-end: three sequential daily_state_update
    calls against a persisted state dir must land on EXACTLY the state a
    single pass over all three days builds — for every family — and a
    crashed generation must not corrupt the previous one."""
    from bun_csv_spark.operators.maintenance import (
        daily_state_update,
        pipeline_state_build,
    )

    state_dir = str(tmp_path / "state")

    def day(d):
        return spark.range(d * 2000, (d + 1) * 2000).select(
            (F.col("id") % 5).cast("string").alias("k"),
            (F.col("id") * 37 % 500).cast("long").alias("v"),
            (F.col("id") % 113).cast("string").alias("u"),
        )

    args = (["k"], "v", "u", 0.0, 500.0)
    for d in range(3):
        final = daily_state_update(spark, day(d), state_dir, *args)

    whole = pipeline_state_build(
        day(0).unionByName(day(1)).unionByName(day(2)), *args
    )
    for fam in ("agg", "hll", "hist", "cm"):
        a = sorted(map(tuple, final[fam].collect()))
        b = sorted(map(tuple, whole[fam].collect()))
        assert a == b, fam

    # retention (keep_generations=2 default): the previous state survives
    # the latest write for rollback, older generations are pruned so disk
    # use stays bounded
    import os

    gens = sorted(p for p in os.listdir(state_dir) if p.startswith("gen="))
    assert gens == ["gen=2", "gen=3"]


def _nightly_day(spark, d):
    return spark.range(d * 2000, (d + 1) * 2000).select(
        (F.col("id") % 5).cast("string").alias("k"),
        (F.col("id") * 37 % 500).cast("long").alias("v"),
        (F.col("id") % 113).cast("string").alias("u"),
    )


_NIGHTLY_ARGS = (["k"], "v", "u", 0.0, 500.0)


def test_daily_state_update_file_uri_and_retention_knob(spark, tmp_path):
    """The state dir as an explicit ``file:`` URI must route every
    marker / listing / prune op through the Hadoop FS API (the
    cluster-portable path — hdfs:// and s3a:// take the same branch),
    and keep_generations=1 must leave only the newest generation."""
    import os

    from bun_csv_spark.operators.maintenance import daily_state_update

    local = tmp_path / "state"
    state_dir = "file://" + str(local)
    for d in range(3):
        final = daily_state_update(
            spark, _nightly_day(spark, d), state_dir, *_NIGHTLY_ARGS,
            keep_generations=1,
        )
    gens = sorted(p for p in os.listdir(local) if p.startswith("gen="))
    assert gens == ["gen=3"]
    assert (local / "_GENERATION").read_text() == "3"
    assert final["agg"].count() == 5


def test_daily_state_update_recovers_from_truncated_marker(spark, tmp_path):
    """A crash mid-marker-write (truncated/empty ``_GENERATION``) must
    NOT brick the state dir: the next update falls back to the highest
    COMPLETE generation and lands on the exact single-pass state."""
    from bun_csv_spark.operators.maintenance import (
        current_generation,
        daily_state_update,
        pipeline_state_build,
    )

    state_dir = str(tmp_path / "state")
    for d in range(2):
        daily_state_update(spark, _nightly_day(spark, d), state_dir, *_NIGHTLY_ARGS)
    (tmp_path / "state" / "_GENERATION").write_text("")  # simulated torn write
    assert current_generation(spark, state_dir) == 2
    final = daily_state_update(
        spark, _nightly_day(spark, 2), state_dir, *_NIGHTLY_ARGS
    )
    whole = pipeline_state_build(
        _nightly_day(spark, 0)
        .unionByName(_nightly_day(spark, 1))
        .unionByName(_nightly_day(spark, 2)),
        *_NIGHTLY_ARGS,
    )
    for fam in ("agg", "hll", "hist", "cm"):
        assert sorted(map(tuple, final[fam].collect())) == sorted(
            map(tuple, whole[fam].collect())
        ), fam


def test_daily_state_update_recovers_from_partial_generation(spark, tmp_path):
    """A crash between family writes leaves gen N+1 incomplete (no
    ``_SUCCESS`` on every family) with the marker gone: recovery must
    skip the torn generation, merge onto gen N, and the rewrite of
    gen N+1 must overwrite the debris."""
    import shutil

    from bun_csv_spark.operators.maintenance import (
        current_generation,
        daily_state_update,
        pipeline_state_build,
    )

    state_dir = str(tmp_path / "state")
    for d in range(2):
        daily_state_update(spark, _nightly_day(spark, d), state_dir, *_NIGHTLY_ARGS)
    # simulate: day-3 run crashed after ONE family write + marker loss
    shutil.copytree(
        tmp_path / "state" / "gen=2" / "agg", tmp_path / "state" / "gen=3" / "agg"
    )
    (tmp_path / "state" / "gen=3" / "agg" / "_SUCCESS").unlink()
    (tmp_path / "state" / "_GENERATION").unlink()
    assert current_generation(spark, state_dir) == 2
    final = daily_state_update(
        spark, _nightly_day(spark, 2), state_dir, *_NIGHTLY_ARGS
    )
    whole = pipeline_state_build(
        _nightly_day(spark, 0)
        .unionByName(_nightly_day(spark, 1))
        .unionByName(_nightly_day(spark, 2)),
        *_NIGHTLY_ARGS,
    )
    for fam in ("agg", "hll", "hist", "cm"):
        assert sorted(map(tuple, final[fam].collect())) == sorted(
            map(tuple, whole[fam].collect())
        ), fam


def test_incremental_day_pipeline_merge_associativity(spark):
    """The pipeline's merge step must not care HOW the days are grouped:
    merge(merge(d0, d1), d2) == merge(d0, merge(d1, d2)) for the agg
    state — the associativity a rolling daily job depends on (day N's
    state is itself a merge of all prior days)."""
    from bun_csv_spark.operators.maintenance import (
        agg_state,
        finalize_agg_state,
        merge_agg_states,
    )

    df = spark.range(3000).select(
        "id",
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 37 % 1000).cast("long").alias("v"),
    )
    days = [df.filter(F.col("id") % 3 == d) for d in range(3)]
    s = [agg_state(d, ["k"], "v") for d in days]
    left = merge_agg_states(merge_agg_states(s[0], s[1], ["k"]), s[2], ["k"])
    right = merge_agg_states(s[0], merge_agg_states(s[1], s[2], ["k"]), ["k"])
    a = sorted(map(tuple, finalize_agg_state(left).collect()))
    b = sorted(map(tuple, finalize_agg_state(right).collect()))
    assert a == b
