"""Structured Streaming windows + multimodal binary plumbing."""

import pytest
from pyspark.sql import functions as F

from bun_csv_spark.multimodal.binary import (
    attach_binary_payload,
    extract_binary_features,
)
from bun_csv_spark.streaming.windows import run_stream_to_table, tumbling_counts


@pytest.fixture(scope="module")
def events_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ev") / "events.parquet")
    rows = [
        (1, "2024-01-01 00:05:00", "click", 1.0),
        (2, "2024-01-01 00:55:00", "click", 2.0),
        (3, "2024-01-01 01:05:00", "view", 3.0),
        (4, "2024-01-01 01:25:00", "click", 4.0),
        (5, "2024-01-01 02:10:00", "view", 5.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts_s string, event_type string, value double")
    df = df.select(
        "event_id", F.to_timestamp_ntz("ts_s").alias("ts"), "event_type", "value"
    )
    df.write.mode("overwrite").parquet(path)
    return path


def test_batch_tumbling(spark, events_parquet):
    ev = spark.read.parquet(events_parquet)
    out = {(r.window_start, r.event_type): (r.n_events, r.sum_value)
           for r in tumbling_counts(ev, "1 hour").collect()}
    assert out[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert out[("2024-01-01 01:00:00", "click")] == (1, 4.0)
    assert out[("2024-01-01 01:00:00", "view")] == (1, 3.0)
    assert out[("2024-01-01 02:00:00", "view")] == (1, 5.0)


def test_streaming_tumbling_matches_batch(spark, events_parquet):
    """The REAL streaming engine over the same file must produce the batch
    result (complete output mode, availableNow trigger)."""
    batch = {(r.window_start, r.event_type): (r.n_events, r.sum_value)
             for r in tumbling_counts(spark.read.parquet(events_parquet), "1 hour").collect()}
    streamed = run_stream_to_table(
        spark, events_parquet, lambda s: tumbling_counts(s, "1 hour", watermark="2 hours")
    )
    got = {(r.window_start, r.event_type): (r.n_events, r.sum_value)
           for r in streamed.collect()}
    assert got == batch


def test_multimodal_feature_extraction(spark):
    docs = spark.createDataFrame(
        [(1, "hello"), (2, "héllo wörld"), (3, "")], "doc_id long, text string"
    )
    feats = extract_binary_features(
        attach_binary_payload(docs, "text", "payload"), "doc_id", "payload"
    )
    rows = {r.doc_id: r for r in feats.collect()}
    assert rows[1].byte_len == 5
    assert rows[2].byte_len == len("héllo wörld".encode("utf-8"))
    assert rows[3].byte_len == 0
    import hashlib

    assert rows[1].content_hash == hashlib.md5(b"hello").hexdigest()


def test_decode_image_rejects_compressed_containers():
    from bun_csv_spark.multimodal.binary import decode_image

    with pytest.raises(ValueError):
        decode_image(b"\x89PNG")


def test_decode_bmp_pixels_roundtrip():
    import numpy as np

    from bun_csv_spark.multimodal.binary import decode_bmp_pixels, make_bmp_payload

    # 3x2 BGR gradient, width forces 4-byte row padding (3*3=9 -> 12)
    px = np.arange(3 * 2 * 3, dtype=np.uint8).reshape(2, 3, 3)
    payload = make_bmp_payload(3, 2, px.tobytes())
    w, h, got = decode_bmp_pixels(payload)
    assert (w, h) == (3, 2)
    assert np.array_equal(got, px)


def test_decode_wav_samples_roundtrip():
    import numpy as np

    from bun_csv_spark.multimodal.binary import decode_wav_samples, make_wav_payload

    data = bytes(range(100))
    rate, samples = decode_wav_samples(make_wav_payload(data, 16000))
    assert rate == 16000
    assert samples.shape == (100, 1)
    assert np.array_equal(samples.reshape(-1), np.arange(100))


def test_audio_meta_deterministic(spark):
    import hashlib

    from bun_csv_spark.multimodal.binary import (
        AUDIO_RATES,
        decode_audio,
        extract_audio_meta,
    )

    docs = spark.createDataFrame(
        [(1, "some audio bytes"), (2, "x")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in extract_audio_meta(
            attach_binary_payload(docs, "text", "payload"), "doc_id", "payload"
        ).collect()
    }
    b = b"some audio bytes"
    h = hashlib.md5(b).hexdigest()
    rate = AUDIO_RATES[int(h[:2], 16) % 4]
    n = int(h[8:12], 16) % 100_000 + len(b)
    assert out[1].sample_rate == rate
    assert out[1].n_samples == n
    assert out[1].duration_ms == n * 1000 // rate
    with pytest.raises(ValueError):
        decode_audio(b"RIFF")  # truncated RIFF: no WAVE fmt/data chunks


def test_frame_sampling_explodes_rows(spark):
    from bun_csv_spark.multimodal.binary import sample_frames

    docs = spark.createDataFrame([(7, "video payload")], "doc_id long, text string")
    frames = sample_frames(
        attach_binary_payload(docs, "text", "payload"),
        "doc_id",
        "payload",
        every_ms=500,
        max_frames=8,
    ).collect()
    assert 1 <= len(frames) <= 8
    idxs = sorted(r.frame_idx for r in frames)
    assert idxs == list(range(len(frames)))  # contiguous frame indices
    assert all(r.frame_ts_ms == r.frame_idx * 500 for r in frames)
    assert len({r.frame_hash for r in frames}) == len(frames)  # distinct frames


def test_parse_image_dims_real_headers():
    from bun_csv_spark.multimodal.binary import (
        make_gif_payload,
        make_jpeg_payload,
        make_png_payload,
        parse_image_dims,
    )

    assert parse_image_dims(make_png_payload(640, 480)) == (640, 480)
    assert parse_image_dims(make_gif_payload(13, 7)) == (13, 7)
    assert parse_image_dims(make_jpeg_payload(320, 200)) == (320, 200)
    # JPEG with a padding FF and a restart marker before SOF still parses
    jpg = make_jpeg_payload(31, 17)
    padded = jpg[:2] + b"\xff" + b"\xff\xd0" + jpg[2:]
    assert parse_image_dims(padded) == (31, 17)
    assert parse_image_dims(b"not an image at all") is None
    assert parse_image_dims(b"\x89PNG\r\n\x1a\n tooshort") is None


def test_parse_wav_meta_real_header():
    from bun_csv_spark.multimodal.binary import make_wav_payload, parse_wav_meta

    data = bytes(range(256)) * 10
    wav = make_wav_payload(data, 22050)
    assert parse_wav_meta(wav) == (22050, len(data))
    assert parse_wav_meta(b"RIFFxxxxWAVEgarbage") is None
    assert parse_wav_meta(b"plain bytes") is None


def test_extract_meta_parses_real_containers(spark):
    from bun_csv_spark.multimodal.binary import (
        extract_audio_meta,
        extract_image_meta,
        make_png_payload,
        make_wav_payload,
    )

    rows = [
        (1, make_png_payload(800, 600)),
        (2, b"opaque fallback bytes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: (r.width, r.height) for r in extract_image_meta(df).collect()}
    assert out[1] == (800, 600)
    assert 1 <= out[2][0] <= 512 and 1 <= out[2][1] <= 512  # md5 fallback

    arows = [(1, make_wav_payload(b"x" * 16000, 16000))]
    adf = spark.createDataFrame(arows, "doc_id long, payload binary")
    meta = extract_audio_meta(adf).collect()[0]
    assert (meta.sample_rate, meta.n_samples, meta.duration_ms) == (16000, 16000, 1000)


def test_sample_frames_hashes_decoded_data(spark):
    """A WAV container and the raw data bytes yield the SAME frame hashes —
    the hash keys off decoded samples, not container framing."""
    import hashlib

    from bun_csv_spark.multimodal.binary import make_wav_payload, sample_frames

    data = b"hello frames" * 100
    wav = make_wav_payload(data, 8000)
    df = spark.createDataFrame([(1, wav)], "doc_id long, payload binary")
    got = sorted(
        (r.frame_idx, r.frame_hash) for r in sample_frames(df).collect()
    )
    h = hashlib.md5(data).hexdigest()
    n = len(data) * 1000 // 8000 // 500 + 1
    expect = sorted(
        (i, hashlib.md5(f"{h}:{i}".encode()).hexdigest()) for i in range(min(n, 8))
    )
    assert got == expect


def test_decode_png_pixels_filter0_roundtrip():
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_png_pixels,
        make_png_rgb_payload,
        parse_image_dims,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (5, 4, 3)).astype(np.uint8)
    payload = make_png_rgb_payload(4, 5, px.tobytes())
    assert parse_image_dims(payload) == (4, 5)  # header path still works
    w, h, got = decode_png_pixels(payload)
    assert (w, h) == (4, 5)
    assert np.array_equal(got, px)


def test_decode_png_pixels_all_filter_types():
    """Hand-filter scanlines with each of the five PNG filters and check
    the decoder reconstructs the original pixels (the filters are
    invertible, so a forward-filter here is an independent reference)."""
    import struct
    import zlib

    import numpy as np

    from bun_csv_spark.multimodal.binary import decode_png_pixels

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    def forward_filter(px, ftype):
        h, w, ch = px.shape
        out = bytearray()
        prev = [0] * (w * ch)
        for y in range(h):
            row = [int(v) for v in px[y].reshape(-1)]
            out.append(ftype)
            for x in range(w * ch):
                a = row[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: paeth(a, b, c)}[ftype]
                out.append((row[x] - pred) % 256)
            prev = row
        return bytes(out)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    rng = np.random.RandomState(13)
    px = rng.randint(0, 256, (6, 5, 3)).astype(np.uint8)
    for ftype in range(5):
        ihdr = struct.pack(">II5B", 5, 6, 8, 2, 0, 0, 0)
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(forward_filter(px, ftype)))
            + chunk(b"IEND", b"")
        )
        w, h, got = decode_png_pixels(payload)
        assert (w, h) == (5, 6)
        assert np.array_equal(got, px), f"filter {ftype} mismatch"


def test_decode_image_dispatch():
    import pytest as _pytest

    from bun_csv_spark.multimodal.binary import decode_image, make_gif_payload

    with _pytest.raises(ValueError):
        decode_image(make_gif_payload(4, 4))  # header-only GIF: no image block


def test_decode_gif_pixels_lzw_roundtrip():
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_gif_pixels,
        make_gif_indexed_payload,
        parse_image_dims,
    )

    rng = np.random.RandomState(5)
    # large enough to cross several LZW clear cycles (254-code period)
    idx = rng.randint(0, 256, 40 * 30).astype(np.uint8)
    pal = bytes(
        np.array([[i, (i * 3) % 256, (i * 7) % 256] for i in range(256)], np.uint8)
    )
    payload = make_gif_indexed_payload(40, 30, idx.tobytes(), pal)
    assert parse_image_dims(payload) == (40, 30)
    w, h, got = decode_gif_pixels(payload)
    assert (w, h) == (40, 30)
    exp = np.frombuffer(pal, np.uint8).reshape(-1, 3)[idx].reshape(30, 40, 3)
    assert np.array_equal(got, exp)


def test_decode_gif_rejects_interlaced():
    import struct

    from bun_csv_spark.multimodal.binary import decode_gif_pixels

    # image descriptor with the interlace flag set
    b = (
        b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0xF7, 0, 0) + bytes(768)
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0x40)
    )
    with pytest.raises(ValueError):
        decode_gif_pixels(b)


def test_decode_image_dispatches_gif():
    import numpy as np

    from bun_csv_spark.multimodal.binary import (
        decode_image,
        make_gif_indexed_payload,
    )

    idx = np.zeros(4, np.uint8)
    pal = bytes(768)
    w, h, px = decode_image(make_gif_indexed_payload(2, 2, idx.tobytes(), pal))
    assert (w, h, px.shape) == (2, 2, (2, 2, 3))


def test_codec_roundtrip_property():
    """Property: encode->decode is identity for BMP/PNG/GIF across
    dimension edge cases (1-pixel rows/cols, padded strides, LZW clear
    boundaries) and arbitrary pixel content."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bun_csv_spark.multimodal.binary import (
        decode_bmp_pixels,
        decode_gif_pixels,
        decode_png_pixels,
        make_bmp_payload,
        make_gif_indexed_payload,
        make_png_rgb_payload,
    )

    pal = bytes(
        np.array([[i, (i * 3) % 256, (i * 7) % 256] for i in range(256)], np.uint8)
    )

    @given(
        w=st.integers(1, 24), h=st.integers(1, 20), seed=st.integers(0, 2**31 - 1)
    )
    @settings(max_examples=25, deadline=None)
    def check(w, h, seed):
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        assert np.array_equal(decode_bmp_pixels(make_bmp_payload(w, h, px.tobytes()))[2], px)
        assert np.array_equal(decode_png_pixels(make_png_rgb_payload(w, h, px.tobytes()))[2], px)
        idx = rng.randint(0, 256, (h, w)).astype(np.uint8)
        got = decode_gif_pixels(make_gif_indexed_payload(w, h, idx.tobytes(), pal))[2]
        exp = np.frombuffer(pal, np.uint8).reshape(-1, 3)[idx]
        assert np.array_equal(got, exp)

    check()


def test_wav_roundtrip_property():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bun_csv_spark.multimodal.binary import decode_wav_samples, make_wav_payload

    @given(n=st.integers(1, 2000), seed=st.integers(0, 2**31 - 1))
    @settings(max_examples=20, deadline=None)
    def check(n, seed):
        rng = np.random.RandomState(seed)
        data = rng.randint(0, 256, n).astype(np.uint8).tobytes()
        rate, samples = decode_wav_samples(make_wav_payload(data, 8000))
        assert rate == 8000
        assert np.array_equal(
            samples.reshape(-1), np.frombuffer(data, np.uint8).astype(np.int64)
        )

    check()


def _phased_stream_agg(spark, tmp_path, batches, delay="1 hour"):
    """Replay hand-built (mtime-ordered) single-row-group parquet batches
    through an append-mode hourly count with a watermark; returns
    (per-batch progress, result rows)."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / f"wm_{uuid.uuid4().hex[:6]}"
    d.mkdir()
    for i, rows in enumerate(batches):
        t = pa.table({"ts": pa.array(rows, pa.timestamp("us")),
                      "k": pa.array(["a"] * len(rows))})
        p = str(d / f"{i:02d}.parquet")
        pq.write_table(t, p)
        os.utime(p, (1_000_000_000 + i * 3600,) * 2)
    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = (
        stream.withColumn("ts_t", F.col("ts").cast("timestamp"))
        .withWatermark("ts_t", delay)
        .groupBy(F.window("ts_t", "1 hour"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"wm_{uuid.uuid4().hex[:6]}"
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    prog = [
        (p["batchId"],
         (p["stateOperators"][0] if p["stateOperators"] else {}).get(
             "numRowsDroppedByWatermark"))
        for p in q.recentProgress
    ]
    rows = {
        (r["window"]["start"].hour, r["n"])
        for r in spark.table(name).collect()
    }
    return prog, rows


def test_watermark_drop_lags_one_batch(spark, tmp_path):
    """Pins the engine behavior the streaming_watermark oracle replays:
    the late filter in batch N uses the watermark computed through batch
    N-2, so a late row in batch 1 is still AGGREGATED AND EMITTED, while
    the same row arriving in batch 2 is dropped."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    late = base.replace(hour=0, minute=30)
    # late row in batch 1: filter wm is still epoch 0 -> kept + emitted
    prog, rows = _phased_stream_agg(
        spark, tmp_path,
        [[base.replace(hour=10)], [late, base.replace(hour=10, minute=30)]],
    )
    assert (0, 1) in rows, (prog, rows)
    # late row in batch 2: filter wm = max(batch-0) - 1h = 09:00 -> dropped
    prog, rows = _phased_stream_agg(
        spark, tmp_path,
        [[base.replace(hour=10)], [base.replace(hour=10, minute=30)],
         [late, base.replace(hour=23)]],
    )
    assert all(h != 0 for h, _ in rows), (prog, rows)
    assert any(n_drop == 1 for _, n_drop in prog), prog


def test_watermark_drop_is_window_end_based(spark, tmp_path):
    """Pins the drop predicate: a batch-2 row older than the watermark
    but whose WINDOW is still open (end > wm) is kept — the filter keys
    on window end, not the row timestamp."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    prog, rows = _phased_stream_agg(
        spark, tmp_path,
        [[base.replace(hour=10)], [base.replace(hour=10, minute=30)],
         # batch-2 filter wm = 09:30; 09:15 < wm but window [09,10) end
         # 10:00 > wm -> kept; 08:15's window end 09:00 <= wm -> dropped
         [base.replace(hour=9, minute=15), base.replace(hour=8, minute=15),
          base.replace(hour=23)]],
        delay="30 minutes",
    )
    assert (9, 1) in rows, (prog, rows)
    assert all(h != 8 for h, _ in rows), (prog, rows)


