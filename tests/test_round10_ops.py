"""Round-10 operator tests: nightly-state kmv-family durability guards
(generation metadata, k/salt validation, torn-kmv-write recovery) and
real state timeouts for the custom stateful streaming operators."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import spark  # noqa: F401


def _nightly_day(spark, d):
    return spark.range(d * 2000, (d + 1) * 2000).select(
        (F.col("id") % 5).cast("string").alias("k"),
        (F.col("id") * 37 % 500).cast("long").alias("v"),
        (F.col("id") % 113).cast("string").alias("u"),
    )


_NIGHTLY_ARGS = (["k"], "v", "u", 0.0, 500.0)


# --- nightly-state kmv guards ------------------------------------------------


def test_daily_state_update_kmv_cannot_be_dropped(spark, tmp_path):
    """A state dir that CARRIES a kmv family must refuse an update
    without kmv_k: writing a kmv-less generation would let retention
    prune the only copies of the family's history."""
    from bun_csv_spark.operators.maintenance import daily_state_update

    state_dir = str(tmp_path / "state")
    daily_state_update(
        spark, _nightly_day(spark, 0), state_dir, *_NIGHTLY_ARGS, kmv_k=32
    )
    with pytest.raises(ValueError, match="carries a kmv family"):
        daily_state_update(spark, _nightly_day(spark, 1), state_dir, *_NIGHTLY_ARGS)


def test_daily_state_update_kmv_k_mismatch_raises(spark, tmp_path):
    """The generation metadata records the kmv family's k; merging with
    a different k must raise instead of silently truncating states and
    skewing every (k-1)*KMV_DOMAIN estimate."""
    from bun_csv_spark.operators.maintenance import (
        _gen_meta,
        current_generation,
        daily_state_update,
    )

    state_dir = str(tmp_path / "state")
    daily_state_update(
        spark, _nightly_day(spark, 0), state_dir, *_NIGHTLY_ARGS, kmv_k=32
    )
    meta = _gen_meta(spark, state_dir, current_generation(spark, state_dir))
    assert (meta["kmv_k"], meta["kmv_salt"]) == (32, "kmv")
    with pytest.raises(ValueError, match="k=32"):
        daily_state_update(
            spark, _nightly_day(spark, 1), state_dir, *_NIGHTLY_ARGS, kmv_k=16
        )


def test_partial_kmv_generation_not_selected(spark, tmp_path):
    """A crash mid-kmv-write plus a lost marker must NOT surface the
    torn generation as current: the _FAMILIES metadata (written before
    any family data) declares the kmv intent, so a generation whose
    four core families committed but whose kmv did not — even when the
    kmv directory is entirely absent — is incomplete, and recovery
    falls back to the previous intact generation."""
    import shutil

    from bun_csv_spark.operators.maintenance import (
        current_generation,
        daily_state_update,
        load_pipeline_state,
    )
    from bun_csv_spark.functions.sketches import kmv_state_by

    state_dir = str(tmp_path / "state")
    for d in range(2):
        daily_state_update(
            spark, _nightly_day(spark, d), state_dir, *_NIGHTLY_ARGS, kmv_k=32
        )
    # simulate: day-3 run wrote metadata + all four core families, then
    # crashed before the kmv write ever created its directory, and the
    # _GENERATION marker was lost too
    shutil.copytree(tmp_path / "state" / "gen=2", tmp_path / "state" / "gen=3")
    shutil.rmtree(tmp_path / "state" / "gen=3" / "kmv")
    (tmp_path / "state" / "_GENERATION").unlink()
    assert current_generation(spark, state_dir) == 2
    st = load_pipeline_state(spark, state_dir)
    assert "kmv" in st  # served state still carries the intact family

    # and the next nightly run recovers onto gen 2, landing on the exact
    # single-pass kmv state over all three days
    final = daily_state_update(
        spark, _nightly_day(spark, 2), state_dir, *_NIGHTLY_ARGS, kmv_k=32
    )
    union = (
        _nightly_day(spark, 0)
        .unionByName(_nightly_day(spark, 1))
        .unionByName(_nightly_day(spark, 2))
    )
    whole = kmv_state_by(union, ["k"], "u", k=32)
    got = sorted((r["k"], r["h"]) for r in final["kmv"].collect())
    want = sorted((r["k"], r["h"]) for r in whole.collect())
    assert got == want


# --- stateful streaming timeouts ---------------------------------------------


def test_streaming_state_timeout_validation(spark):
    """EventTimeTimeout (no per-key timestamp is ever set) and
    ProcessingTimeTimeout without a ttl must be rejected up front for
    both custom stateful operators."""
    from bun_csv_spark.streaming.windows import (
        stateful_user_counts,
        streaming_kmv_state,
    )

    df = spark.range(4).select(
        F.col("id").alias("user_id"),
        F.col("id").cast("double").alias("value"),
        (F.col("id") % 2).cast("string").alias("g"),
        F.col("id").cast("string").alias("v"),
    )
    with pytest.raises(ValueError, match="EventTimeTimeout"):
        stateful_user_counts(df, timeout="EventTimeTimeout")
    with pytest.raises(ValueError, match="ttl_ms"):
        stateful_user_counts(df, timeout="ProcessingTimeTimeout")
    with pytest.raises(ValueError, match="EventTimeTimeout"):
        streaming_kmv_state(df, "g", "v", timeout="EventTimeTimeout")
    with pytest.raises(ValueError, match="ttl_ms"):
        streaming_kmv_state(df, "g", "v", timeout="ProcessingTimeTimeout")


def test_streaming_kmv_timeout_expires_idle_key(spark, tmp_path):
    """ProcessingTimeTimeout + tiny ttl: a key idle for a micro-batch
    has its state dropped (hasTimedOut -> remove), so when it reappears
    its version RESTARTS at 1 — while a continuously-active key's
    version keeps climbing and its bottom-k state is unaffected.

    Drained via run_stream_polling: processing-time timers make the
    engine schedule batches forever, so neither AvailableNow nor
    processAllAvailable ever settles (measured: 144 epochs and counting
    on this 3-file replay)."""
    from bun_csv_spark.streaming.windows import run_stream_polling, streaming_kmv_state

    src = tmp_path / "src"
    # batch 1: both keys; batch 2: only "hot" (idle "cold" expires
    # during this batch); batch 3: both keys again
    batches = [("hot", "cold"), ("hot",), ("hot", "cold")]
    for i, keys in enumerate(batches):
        rows = [(k, f"{k}-{i}-{j}") for k in keys for j in range(5)]
        spark.createDataFrame(rows, "g string, v string").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def done(df):
        rows = df.select("g", "version").collect()
        hot = [r["version"] for r in rows if r["g"] == "hot"]
        cold = [r["version"] for r in rows if r["g"] == "cold"]
        return max(hot, default=0) >= 3 and len(cold) >= 2

    out = run_stream_polling(
        spark,
        str(src),
        lambda s: streaming_kmv_state(
            s, "g", "v", k=32, timeout="ProcessingTimeTimeout", ttl_ms=1
        ),
        done,
        output_mode="update",
        max_files_per_trigger=1,
    )
    vmax = {
        r["g"]: r["m"]
        for r in out.groupBy("g").agg(F.max("version").alias("m")).collect()
    }
    assert vmax["hot"] == 3, vmax
    assert vmax["cold"] == 1, vmax  # state was removed between its updates
    # the expired key's final state holds ONLY batch-3 values
    last_cold = (
        out.filter((F.col("g") == "cold") & (F.col("version") == 1))
        .orderBy(F.size("hs").desc())
        .select(F.size("hs").alias("n"))
        .collect()
    )
    assert all(r["n"] == 5 for r in last_cold)


def test_stateful_user_counts_processing_timeout_runs(spark, tmp_path):
    """stateful_user_counts with a generous ttl must behave exactly like
    NoTimeout over a bounded replay (the timeout never fires), proving
    the re-arm path doesn't disturb the state algebra."""
    from bun_csv_spark.streaming.windows import run_stream_polling, stateful_user_counts

    src = tmp_path / "src"
    df = spark.range(300).select(
        (F.col("id") % 7).alias("user_id"), (F.col("id") % 13).cast("double").alias("value")
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src))
    out = run_stream_polling(
        spark,
        str(src),
        lambda s: stateful_user_counts(
            s, timeout="ProcessingTimeTimeout", ttl_ms=3_600_000
        ),
        lambda t: t.count() >= 7,
        output_mode="update",
    )
    want = (
        df.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    got_rows = sorted(map(tuple, out.select("user_id", "n_events", "sum_value").collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows


# --- progressive JPEG --------------------------------------------------------


def test_jpeg_progressive_equals_baseline_decode():
    """The progressive scan script transmits the SAME quantized
    coefficients as the baseline encoding, so decoding either file must
    produce BIT-IDENTICAL pixels — across sizes, gray/color, 4:4:4 and
    4:2:0, and quant tables that leave sparse coefficients (heavy EOB
    runs in the refinement scans)."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_color_payload,
        make_jpeg_gray_payload,
        make_jpeg_progressive_gray_payload,
        make_jpeg_progressive_payload,
    )

    rng = np.random.default_rng(7)
    for w, h in [(16, 16), (24, 40), (37, 21), (8, 8), (5, 3)]:
        bgr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
        for sub in ("444", "420"):
            pb = decode_jpeg_pixels(make_jpeg_color_payload(w, h, bgr, subsampling=sub))
            pp = decode_jpeg_pixels(make_jpeg_progressive_payload(w, h, bgr, subsampling=sub))
            assert pb[:2] == pp[:2] == (w, h)
            assert (pb[2] == pp[2]).all(), (w, h, sub)
        g = rng.integers(0, 256, (h, w), dtype=np.uint8).tobytes()
        gb = decode_jpeg_pixels(make_jpeg_gray_payload(w, h, g))[2]
        gp = decode_jpeg_pixels(make_jpeg_progressive_gray_payload(w, h, g))[2]
        assert (gb == gp).all(), (w, h, "gray")
    # coarse quant => sparse coefficients => multi-block EOB runs with
    # buffered correction bits in the AC refinement scans
    bgr = rng.integers(0, 256, (48, 64, 3), dtype=np.uint8).tobytes()
    for q in ([8] * 64, [3] * 64):
        pb = decode_jpeg_pixels(
            make_jpeg_color_payload(64, 48, bgr, quant=q, subsampling="420")
        )[2]
        pp = decode_jpeg_pixels(
            make_jpeg_progressive_payload(64, 48, bgr, quant=q, subsampling="420")
        )[2]
        assert (pb == pp).all(), q[0]


def test_jpeg_progressive_macroblock_constant_lossless():
    """The gate fixture's contract: macroblock-constant gray-valued
    4:2:0 input survives the progressive flat-quant round trip EXACTLY
    (same losslessness as the baseline 4:2:0 gate)."""
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_progressive_payload,
    )

    for i in (3, 10, 77):
        wb, hb = 1 + i % 4, 1 + (i * 3) % 4
        bx = np.arange(wb).reshape(1, wb)
        by = np.arange(hb).reshape(hb, 1)
        g = ((i + bx * 7 + by * 13) % 256).astype(np.uint8)
        px = np.repeat(np.repeat(g, 16, 0), 16, 1)
        bgr = np.stack([px, px, px], -1)
        b = make_jpeg_progressive_payload(wb * 16, hb * 16, bgr.tobytes(), subsampling="420")
        assert b[:2] == b"\xff\xd8" and b"\xff\xc2" in b  # really SOF2
        w, h, out = decode_jpeg_pixels(b)
        assert (w, h) == (wb * 16, hb * 16)
        assert (out == bgr).all()


def test_jpeg_progressive_truncation_raises():
    """A progressive file cut mid-scan must fail fast (ValueError), not
    return silently-wrong pixels."""
    import numpy as np
    import pytest as _pytest

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_progressive_payload,
    )

    rng = np.random.default_rng(3)
    bgr = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8).tobytes()
    b = make_jpeg_progressive_payload(32, 32, bgr)
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(b[: len(b) // 2])


# --- incremental day-over-day dedup -------------------------------------------


def test_incremental_dedup_equals_global_first_day_wins(spark, tmp_path):
    """Three day-folds against the persisted fingerprint store must
    equal the global first-day-wins dedup over the undivided corpus:
    per fingerprint, only its FIRST day emits a row, and within that
    day the min id survives."""
    from bun_csv_spark.operators.dedup import incremental_dedup_update

    # planted duplicates across days: id%7 buckets share text
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), (F.col("id") % 7).cast("string")).alias("text"),
    )
    store = str(tmp_path / "store")
    got = []
    for d in range(3):
        new = incremental_dedup_update(
            spark, docs.filter(F.col("doc_id") % 3 == d), store, d
        )
        got += [(d, r["doc_id"], r["fp"]) for r in new.collect()]
    # global truth: FIRST-day-wins — per text, the earliest day it
    # appears in, then the min doc_id within that day (NOT the global
    # min id, whose day may be later)
    want = [
        (r["d0"], r["k"], r["fp"])
        for r in docs.withColumn("day", F.col("doc_id") % 3)
        .withColumn("d0", F.min("day").over(Window.partitionBy("text")))
        .filter(F.col("day") == F.col("d0"))
        .groupBy("text", "d0")
        .agg(
            F.min("doc_id").alias("k"),
            F.first(F.md5(F.lower(F.trim("text")))).alias("fp"),
        )
        .collect()
    ]
    assert sorted(got) == sorted(want)
    assert len(got) == 7  # one survivor per distinct text, ever


def test_incremental_dedup_rerun_is_idempotent(spark, tmp_path):
    """Re-running the SAME day (crash recovery) must converge to the
    identical store and surviving set — the per-day overwrite is the
    exactly-once mechanism."""
    from bun_csv_spark.operators.dedup import (
        incremental_dedup_update,
        load_fingerprint_store,
    )

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("text"),
    )
    store = str(tmp_path / "store")
    incremental_dedup_update(spark, docs.filter(F.col("doc_id") % 2 == 0), store, 0)
    a = sorted(map(tuple, load_fingerprint_store(spark, store).collect()))
    incremental_dedup_update(spark, docs.filter(F.col("doc_id") % 2 == 0), store, 0)
    b = sorted(map(tuple, load_fingerprint_store(spark, store).collect()))
    assert a == b and len(a) == 5


def test_incremental_dedup_store_skips_torn_day(spark, tmp_path):
    """A day dir without _SUCCESS (crash mid-write) must be invisible
    to the store load, so the re-run sees the same history."""
    from bun_csv_spark.operators.dedup import (
        incremental_dedup_update,
        load_fingerprint_store,
    )

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).cast("string").alias("text")
    )
    store = str(tmp_path / "store")
    incremental_dedup_update(spark, docs.filter(F.col("doc_id") < 20), store, 0)
    # torn day: directory exists, no _SUCCESS
    torn = tmp_path / "store" / "day=1"
    import shutil

    shutil.copytree(tmp_path / "store" / "day=0", torn)
    (torn / "_SUCCESS").unlink()
    st = load_fingerprint_store(spark, store)
    assert "day=1" not in " ".join(st.inputFiles())


def test_jpeg_progressive_equals_baseline_property():
    """Hypothesis property: for ANY image (arbitrary pixels, arbitrary
    dims, either subsampling, flat or coarse quant), the progressive
    encoding decodes to pixels BIT-IDENTICAL to the baseline encoding
    of the same input — the invariant the multimodal_jpeg_progressive
    oracle is built on (lossless coefficient transmission), pinned
    across the input space rather than the fixture alone. Coarse quant
    cases drive sparse bands, i.e. the EOB-run + correction-bit
    machinery."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bun_csv_spark.multimodal.binary import (
        decode_jpeg_pixels,
        make_jpeg_color_payload,
        make_jpeg_progressive_payload,
    )

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        sub=st.sampled_from(["444", "420"]),
        q=st.sampled_from([None, [4] * 64, [9] * 64]),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(w, h, sub, q, seed):
        bgr = (
            np.random.default_rng(seed)
            .integers(0, 256, (h, w, 3), np.uint8)
            .tobytes()
        )
        pb = decode_jpeg_pixels(
            make_jpeg_color_payload(w, h, bgr, quant=q, subsampling=sub)
        )
        pp = decode_jpeg_pixels(
            make_jpeg_progressive_payload(w, h, bgr, quant=q, subsampling=sub)
        )
        assert pb[:2] == pp[:2] == (w, h)
        assert (pb[2] == pp[2]).all()

    prop()
