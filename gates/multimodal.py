"""Multimodal gates: real BMP/PNG/GIF/JPEG/AVI/WAV decodes in Arrow
batches, perceptual hashes and their near-dup pairs, the cross-modality
leakage-safe split."""

from __future__ import annotations

from pyspark.sql import functions as F

from bun_csv_spark.multimodal.binary import (
    attach_avi_mjpeg_payload,
    attach_binary_payload,
    attach_bmp_payload,
    attach_gif_payload,
    attach_jpeg420_payload,
    attach_jpeg_payload,
    attach_jpeg_progressive_payload,
    attach_pcm_wav_payload,
    attach_png_payload,
    attach_png_rgb_payload,
    attach_wav_payload,
    decode_image,
    decode_jpeg_pixels,
    extract_audio_fingerprint,
    extract_audio_meta,
    extract_audio_stats,
    extract_binary_features,
    extract_dhash,
    extract_image_meta,
    extract_pixel_stats,
    resize_dims,
    sample_frames,
    sample_video_frames,
)
from bun_csv_spark.operators.corpus import leakage_safe_split
from bun_csv_spark.operators.dedup import hamming_pairs64, neardup_pairs_minhash
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


# dHash pipeline restated from doc_id arithmetic (attach_bmp_payload
# texture formulas + extract_dhash's integer sampling): {imgs} maps
# (id -> source image id, brightness bias); grid = nearest-neighbor
# 9x8 sample points; gray = (B+G+R)//3; bit (i,j) via the i/i+1
# self-join; 1<<63 wraps to long min exactly as numpy int64 does
_dhash_ctes = """
        dims AS (
          SELECT id, img, bias, 1 + img % 16 AS w, 1 + (img * 3) % 16 AS h
          FROM imgs),
        grid AS (
          SELECT id, img, bias, w, h, ii.i, jj.j,
                 ((2 * ii.i + 1) * w) // 18 AS sx,
                 ((2 * jj.j + 1) * h) // 16 AS sy
          FROM dims,
               (SELECT unnest(generate_series(0, 8)) AS i) ii,
               (SELECT unnest(generate_series(0, 7)) AS j) jj),
        gray AS (
          SELECT id, i, j,
                 (((img + sx * 7 + sy * 13 + bias + sx * sy * (1 + img % 7)) % 256)
                + ((img + sx * 11 + sy * 3 + bias + sx * sy * (1 + img % 7)) % 256)
                + ((img + sx * 5 + sy * 17 + bias + sx * sy * (1 + img % 7)) % 256))
                 // 3 AS g
          FROM grid),
        dh AS (
          SELECT a.id,
                 sum(CASE WHEN b.g > a.g THEN
                       CASE WHEN a.j * 8 + a.i = 63
                            THEN (-9223372036854775807 - 1)
                            ELSE (1::BIGINT << (a.j * 8 + a.i)) END
                     ELSE 0 END)::BIGINT AS dhash
          FROM gray a JOIN gray b
            ON b.id = a.id AND b.j = a.j AND b.i = a.i + 1
          GROUP BY a.id)
    """


# audio fingerprint restated from doc_id arithmetic
# (attach_pcm_wav_payload texture formulas + extract_audio_fingerprint's
# integer sampling): n = 16 + img % 64 samples, amp(s) = (img*31 + s*7
# + (s*s % 16)*(1 + img % 5) + bias) % 256, 65 sample points
_afp_ctes = """
        clip AS (
          SELECT id, img, bias, 16 + img % 64 AS n FROM snds),
        pts AS (
          SELECT id, img, bias, n, tt.t,
                 ((2 * tt.t + 1) * n) // 130 AS s
          FROM clip, (SELECT unnest(generate_series(0, 64)) AS t) tt),
        amp AS (
          SELECT id, t,
                 (img * 31 + s * 7 + (s * s % 16) * (1 + img % 5) + bias) % 256
                   AS a
          FROM pts),
        fp AS (
          SELECT x.id,
                 sum(CASE WHEN y.a > x.a THEN
                       CASE WHEN x.t = 63 THEN (-9223372036854775807 - 1)
                            ELSE (1::BIGINT << x.t) END
                     ELSE 0 END)::BIGINT AS fingerprint
          FROM amp x JOIN amp y ON y.id = x.id AND y.t = x.t + 1
          GROUP BY x.id)
    """


# pixel/sample channel sums restated from doc_id arithmetic — the
# attach builders derive every byte from the id (multimodal/binary.py
# attach_bmp_payload / attach_pcm_wav_payload), so exact-integer SQL
# over generate_series IS the decoded ground truth
_MULTIMODAL_PIXELS_SQL = """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id * 3) % 16 AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
        px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs)
        SELECT doc_id, w::BIGINT AS width, h::BIGINT AS height,
               (w * h)::BIGINT AS n_pixels,
               sum((doc_id + x * 7 + y * 13) % 256)::BIGINT AS sum_b,
               sum((doc_id + x * 11 + y * 3) % 256)::BIGINT AS sum_g,
               sum((doc_id + x * 5 + y * 17) % 256)::BIGINT AS sum_r
        FROM px GROUP BY doc_id, w, h
    """


@GATES.gate(
    "multimodal_pixels",
    _MULTIMODAL_PIXELS_SQL,
    Plan(
        # Arrow-batched decode pipelines: pandas_udf attach + mapInPandas
        # reduce, zero shuffles end to end
        shuffles=0, must=["MapInPandas"], must_not=["Exchange"],
    ),
)
def q_multimodal_pixels(spark, sf_dir):
    """REAL pixel decode: attach a genuine uncompressed 24-bit BMP per
    doc (deterministic id-derived pixels), decode every pixel with
    stdlib struct + numpy (multimodal.binary.decode_bmp_pixels), reduce
    to exact integer channel sums. The oracle restates the sums from
    doc_id arithmetic alone — a true end-to-end check that the bytes
    written are the bytes decoded."""
    docs = _t(spark, sf_dir, "documents")
    return extract_pixel_stats(attach_bmp_payload(docs), "doc_id", "payload")


# JPEG fixture: block-constant gray => flat-quant DCT round trip is
# lossless (constant block: DC = 8*(c-128) exact, AC = 0), so decoded
# sums restate from id arithmetic; each 8x8 block contributes 64x its
# gray value to every channel
@GATES.gate("multimodal_jpeg_pixels", """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 8 AS wb, 1 + (doc_id * 3) % 8 AS hb
          FROM documents),
        bs AS (SELECT doc_id, wb, hb, unnest(generate_series(0, wb - 1)) AS bx
               FROM d),
        b2 AS (SELECT doc_id, wb, hb, bx,
                      unnest(generate_series(0, hb - 1)) AS by
               FROM bs)
        SELECT doc_id, (wb * 8)::BIGINT AS width, (hb * 8)::BIGINT AS height,
               (wb * hb * 64)::BIGINT AS n_pixels,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 64)::BIGINT AS sum_b,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 64)::BIGINT AS sum_g,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 64)::BIGINT AS sum_r
        FROM b2 GROUP BY doc_id, wb, hb
    """, Plan(
    # Arrow-batched JPEG encode+decode: pure mapInPandas, zero shuffles
    # r18: the keyed ensure_parallelism exchange spreads the one-core
    # Python decode on the single-file local scan (7.9 -> 1.6 s); the
    # decode itself stays a pure Arrow map — pin 1 exchange, no joins
    shuffles=1,
    must=["MapInPandas"],
    must_not=["SortMergeJoin", "BroadcastHashJoin"],
))
def q_multimodal_jpeg_pixels(spark, sf_dir):
    """REAL JPEG decode end to end: a genuine baseline-sequential JFIF
    per doc (flat quant table, Annex K Huffman tables, real forward DCT
    at encode), decoded through canonical Huffman + dequant + float IDCT
    (multimodal.binary.decode_jpeg_pixels — no imaging library), reduced
    to exact integer channel sums. Pixels are CONSTANT per 8x8 block, so
    the DCT round trip is LOSSLESS by construction and the oracle
    restates every decoded pixel from doc_id arithmetic — closing the
    'JPEG is the external-codec boundary' gap documented since r3."""
    # r18: keyed spread — the Python JPEG decode ran one-core on the
    # single-file scan (A/B at sf0.1: 7.9 -> 1.6 s); no-op at scale
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), key="doc_id"
    ).select("doc_id")
    return extract_pixel_stats(
        attach_jpeg_payload(docs), "doc_id", "payload", decoder=decode_jpeg_pixels
    )


# 4:2:0 fixture: gray-valued color constant per 16x16 MACROBLOCK =>
# chroma box-average and replication-upsample are exact, flat-quant
# DCT is lossless; each macroblock contributes 256x its value
_MULTIMODAL_JPEG_420_SQL = """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 4 AS wb, 1 + (doc_id * 3) % 4 AS hb
          FROM documents),
        bs AS (SELECT doc_id, wb, hb, unnest(generate_series(0, wb - 1)) AS bx
               FROM d),
        b2 AS (SELECT doc_id, wb, hb, bx,
                      unnest(generate_series(0, hb - 1)) AS by
               FROM bs)
        SELECT doc_id, (wb * 16)::BIGINT AS width, (hb * 16)::BIGINT AS height,
               (wb * hb * 256)::BIGINT AS n_pixels,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 256)::BIGINT AS sum_b,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 256)::BIGINT AS sum_g,
               (sum((doc_id + bx * 7 + by * 13) % 256) * 256)::BIGINT AS sum_r
        FROM b2 GROUP BY doc_id, wb, hb
    """


@GATES.gate(
    "multimodal_jpeg_420",
    _MULTIMODAL_JPEG_420_SQL,
    Plan(shuffles=1, must=["MapInPandas"],
         must_not=["SortMergeJoin", "BroadcastHashJoin"]),
)
def q_multimodal_jpeg_420(spark, sf_dir):
    """4:2:0-subsampled JPEG decode end to end — the layout virtually
    every real-world camera/web JPEG uses (16x16 MCUs: 4 Y + 1 Cb +
    1 Cr blocks, chroma at quarter resolution). The fixture is
    gray-valued and constant per 16x16 macroblock, so chroma
    box-averaging and replication-upsample are both exact and the
    flat-quant DCT round trip is LOSSLESS — every decoded pixel
    restates from doc_id arithmetic in the oracle. Exercises the
    sampling-factor parse, the 6-block MCU interleave, per-component
    plane geometry, and the upsample path that the 4:4:4 gate
    (multimodal_jpeg_pixels) never touches."""
    # r18: keyed spread (one-core Python decode otherwise; same A/B
    # family as multimodal_jpeg_pixels); no-op at scale
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), key="doc_id"
    ).select("doc_id")
    return extract_pixel_stats(
        attach_jpeg420_payload(docs), "doc_id", "payload", decoder=decode_jpeg_pixels
    )


# multimodal_video: sampled-frame channel sums restated from
# (doc_id, frame) arithmetic — clip length nf = 2 + id%3 frames at
# 40 ms/frame, sampling instants k*50 ms while < nf*40, frame index
# ts // 40, frame f's macroblock (bx,by) = (id + f*29 + bx*7 +
# by*13) % 256 constant over 16x16 gray pixels (the JPEG macroblock
# oracle with a per-frame term)
@GATES.gate("multimodal_video", """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 4 AS wb, 1 + (doc_id * 3) % 4 AS hb,
                 2 + doc_id % 3 AS nf
          FROM documents),
        k AS (SELECT doc_id, wb, hb, nf,
                     unnest(generate_series(0, 7)) AS k
              FROM d),
        f AS (SELECT doc_id, wb, hb, (k * 50) // 40 AS fidx, k * 50 AS ts
              FROM k WHERE k * 50 < nf * 40),
        bs AS (SELECT doc_id, wb, hb, fidx, ts,
                      unnest(generate_series(0, wb - 1)) AS bx
               FROM f),
        b2 AS (SELECT doc_id, wb, hb, fidx, ts, bx,
                      unnest(generate_series(0, hb - 1)) AS by
               FROM bs)
        SELECT doc_id, fidx::BIGINT AS frame_idx, ts::BIGINT AS frame_ts_ms,
               (wb * 16)::BIGINT AS width, (hb * 16)::BIGINT AS height,
               (sum((doc_id + fidx * 29 + bx * 7 + by * 13) % 256)
                 * 256)::BIGINT AS sum_b,
               (sum((doc_id + fidx * 29 + bx * 7 + by * 13) % 256)
                 * 256)::BIGINT AS sum_g,
               (sum((doc_id + fidx * 29 + bx * 7 + by * 13) % 256)
                 * 256)::BIGINT AS sum_r
        FROM b2 GROUP BY doc_id, fidx, ts, wb, hb
    """)
def q_multimodal_video(spark, sf_dir):
    """REAL video decode end-to-end (r11): each doc carries an MJPEG-
    in-AVI file (RIFF container — avih/strh/strf headers, movi '00dc'
    chunks, idx1 index; multimodal/binary.py make_avi_mjpeg_payload) of
    2 + id%3 frames at 25 fps, every frame a complete baseline 4:2:0
    JPEG of the per-frame macroblock fixture. sample_video_frames walks
    the container, decodes the frame under each 50 ms sampling instant
    through the from-scratch JPEG codec, and emits exact integer
    channel sums per sampled frame — the oracle restates every pixel
    of every sampled frame from (doc_id, frame_idx) arithmetic, the
    macroblock-oracle pattern of the JPEG gates extended over the time
    axis (sampling stride, ts -> frame-index mapping, per-doc-varying
    clip length all checked)."""
    # r18: keyed spread — the MJPEG-in-AVI walk + per-frame JPEG decode
    # is the heaviest Python map in the registry and ran one-core on the
    # single-file scan (A/B at sf0.1: 47.1 -> 4.5 s); no-op at scale
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), key="doc_id"
    ).select("doc_id")
    return sample_video_frames(
        attach_avi_mjpeg_payload(docs), "doc_id", "payload",
        every_ms=50, max_frames=8,
    )


# multimodal_jpeg_progressive: progressive transmission is lossless
# over the same quantized coefficients, so the decoded pixels equal
# the baseline 4:2:0 fixture's EXACTLY — the oracle is the same
# macroblock arithmetic as multimodal_jpeg_420
@GATES.gate("multimodal_jpeg_progressive", _MULTIMODAL_JPEG_420_SQL)
def q_multimodal_jpeg_progressive(spark, sf_dir):
    """Progressive (SOF2) JPEG decode end to end (r10) — the last
    common JPEG layout the codec rejected. Each doc's payload is the
    4:2:0 macroblock-constant fixture of multimodal_jpeg_420 encoded
    through a REAL T.81 Annex G scan script: DC first (Al=1) -> DC
    refinement (raw bits) -> per-component spectral-selection AC bands
    (component 0 split 1-5/6-63) at Al=1 -> AC refinement scans (Ah=1)
    with multi-block EOB runs and buffered correction bits. The
    coefficients are transmitted losslessly, so the decoded pixels are
    BIT-IDENTICAL to the baseline 4:2:0 encoding and the oracle
    restates every pixel from doc_id arithmetic — same ground truth,
    different wire format, exercising the multi-scan coefficient
    accumulator, successive approximation, and EOB-run machinery that
    sequential scans never touch."""
    # r18: keyed spread (A/B at sf0.1: 19.2 -> 2.0 s); no-op at scale
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), key="doc_id"
    ).select("doc_id")
    return extract_pixel_stats(
        attach_jpeg_progressive_payload(docs),
        "doc_id",
        "payload",
        decoder=decode_jpeg_pixels,
    )


@GATES.gate(
    "multimodal_png",
    _MULTIMODAL_PIXELS_SQL,
    Plan(shuffles=0, must=["MapInPandas"], must_not=["Exchange"]),
)
def q_multimodal_png(spark, sf_dir):
    """REAL PNG decode end-to-end: attach a complete zlib-compressed PNG
    per doc (attach_png_rgb_payload — same id-derived channel formulas
    as the BMP gate), decode through inflate + unfilter
    (decode_png_pixels via decode_image dispatch), reduce to exact
    integer channel sums. Same oracle arithmetic as multimodal_pixels —
    two containers, two decode paths, one ground truth."""
    docs = _t(spark, sf_dir, "documents")
    return extract_pixel_stats(
        attach_png_rgb_payload(docs), "doc_id", "payload", decoder=decode_image
    )


@GATES.gate("multimodal_gif", """
        WITH d AS (
          SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id * 3) % 16 AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
        px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        v AS (SELECT doc_id, w, h, (doc_id + x * 7 + y * 13) % 256 AS idx FROM px)
        SELECT doc_id, w::BIGINT AS width, h::BIGINT AS height,
               (w * h)::BIGINT AS n_pixels,
               sum(idx)::BIGINT AS sum_r,
               sum((idx * 3) % 256)::BIGINT AS sum_g,
               sum((idx * 7) % 256)::BIGINT AS sum_b
        FROM v GROUP BY doc_id, w, h
    """, Plan(shuffles=0, must=["MapInPandas"], must_not=["Exchange"]))
def q_multimodal_gif(spark, sf_dir):
    """REAL GIF decode end-to-end: attach a genuine LZW-coded GIF per doc
    (attach_gif_payload — id-derived palette indices through a real
    variable-width LZW bitstream), decode with the pure-Python LZW +
    palette mapping, reduce to exact integer channel sums. Oracle
    restates sums from the index/palette arithmetic: index v = (id + x*7
    + y*13) % 256, channels (v, 3v % 256, 7v % 256)."""
    docs = _t(spark, sf_dir, "documents")
    return extract_pixel_stats(
        attach_gif_payload(docs), "doc_id", "payload", decoder=decode_image,
        channel_cols=("sum_r", "sum_g", "sum_b"),
    )


@GATES.gate("multimodal_samples", """
        WITH d AS (SELECT doc_id, 16 + doc_id % 64 AS n, doc_id % 4 AS ri
                   FROM documents),
        s AS (SELECT doc_id, n, ri, unnest(generate_series(0, n - 1)) AS i FROM d)
        SELECT doc_id,
               (CASE ri WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 22050 ELSE 44100 END)::BIGINT AS sample_rate,
               n::BIGINT AS n_samples,
               sum((doc_id * 31 + i * 7) % 256)::BIGINT AS sum_samples,
               max((doc_id * 31 + i * 7) % 256)::BIGINT AS peak
        FROM s GROUP BY doc_id, n, ri
    """, Plan(shuffles=0, must=["MapInPandas"], must_not=["Exchange"]))
def q_multimodal_samples(spark, sf_dir):
    """REAL PCM sample decode: attach a genuine 8-bit PCM WAV per doc
    (deterministic id-derived samples), decode every frame with stdlib
    wave + numpy, reduce to exact integer stats (sum, peak)."""
    docs = _t(spark, sf_dir, "documents")
    return extract_audio_stats(attach_pcm_wav_payload(docs), "doc_id", "payload")


@GATES.gate("multimodal_features", """
        SELECT doc_id,
               octet_length(encode(text))::BIGINT AS byte_len,
               md5(text) AS content_hash
        FROM documents
    """)
def q_multimodal_features(spark, sf_dir):
    """Binary-column plumbing: opaque payload -> Arrow-batched feature
    extraction via mapInPandas (decode stubbed deterministically)."""
    docs = attach_binary_payload(_t(spark, sf_dir, "documents"), "text", "payload")
    return extract_binary_features(docs, "doc_id", "payload")


# the audio/frame "decode" is a deterministic header stub (md5-derived
# — multimodal/binary.py); the oracle replays the same arithmetic
@GATES.gate("multimodal_audio", """
        WITH a AS (
          SELECT doc_id, doc_id % 4 AS ri,
                 octet_length(encode(text)) AS ns
          FROM documents)
        SELECT doc_id,
               (CASE ri WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 22050 ELSE 44100 END)::BIGINT AS sample_rate,
               ns::BIGINT AS n_samples,
               ((ns * 1000) // (CASE ri WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 22050 ELSE 44100 END))::BIGINT
                 AS duration_ms
        FROM a
    """)
def q_multimodal_audio(spark, sf_dir):
    """Audio metadata through a REAL RIFF/WAVE header: the fixture builds
    an actual 8-bit PCM WAV per doc (rate = AUDIO_RATES[doc_id % 4],
    frames = UTF-8 text bytes) and extract_audio_meta parses it with the
    stdlib wave reader — the oracle restates rate/frames from (doc_id,
    text) without touching bytes."""
    docs = attach_wav_payload(_t(spark, sf_dir, "documents"), "doc_id", "text", "payload")
    return extract_audio_meta(docs, "doc_id", "payload")


@GATES.gate("multimodal_frames", """
        WITH a AS (
          SELECT doc_id, md5(text) AS h, doc_id % 4 AS ri,
                 octet_length(encode(text)) AS ns
          FROM documents),
        d AS (
          SELECT doc_id, h,
                 least(((ns * 1000) // (CASE ri WHEN 0 THEN 8000
                        WHEN 1 THEN 16000 WHEN 2 THEN 22050
                        ELSE 44100 END)) // 10 + 1, 8) AS n_frames
          FROM a),
        f AS (SELECT doc_id, h, unnest(generate_series(0, n_frames - 1)) AS i
              FROM d)
        SELECT doc_id, i::BIGINT AS frame_idx, (i * 10)::BIGINT AS frame_ts_ms,
               md5(h || ':' || i) AS frame_hash
        FROM f
    """)
def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling plumbing over REAL WAV containers: duration comes
    from the parsed header; the frame hash keys off the DECODED sample
    data (= the original text bytes), so the oracle replays it as
    md5(text) — one row per sampled frame (row-explosion inside
    mapInPandas, the shape a real video decoder uses)."""
    # every_ms=10: real WAV durations here are 1-70 ms (text-sized
    # payloads), so a 10 ms stride keeps the gate exercising genuine
    # multi-frame explosion (1-8 rows per doc)
    docs = attach_wav_payload(_t(spark, sf_dir, "documents"), "doc_id", "text", "payload")
    return sample_frames(docs, "doc_id", "payload", every_ms=10, max_frames=8)


@GATES.gate("multimodal_resize", """
        WITH dims AS (
          SELECT doc_id,
                 1 + (doc_id * 37) % 512 AS width,
                 1 + (doc_id * 53) % 512 AS height
          FROM documents)
        SELECT doc_id, width, height,
               CASE WHEN greatest(width, height) <= 256 THEN width
                    ELSE greatest((width * 256) // greatest(width, height), 1)
               END::BIGINT AS thumb_w,
               CASE WHEN greatest(width, height) <= 256 THEN height
                    ELSE greatest((height * 256) // greatest(width, height), 1)
               END::BIGINT AS thumb_h
        FROM dims
    """)
def q_multimodal_resize(spark, sf_dir):
    """Image pipeline through a REAL PNG IHDR: the fixture builds an
    actual PNG header per doc (dims = 1 + doc_id*37%512 / 1 + doc_id*53%512),
    extract_image_meta parses it (pure-stdlib header decode), then
    aspect-preserving thumbnail geometry runs as JVM exprs."""
    docs = attach_png_payload(_t(spark, sf_dir, "documents"), "doc_id", "payload")
    meta = extract_image_meta(docs, "doc_id", "payload")
    new_w, new_h = resize_dims("width", "height", 256)
    return meta.select(
        "doc_id", "width", "height", new_w.alias("thumb_w"), new_h.alias("thumb_h")
    )


@GATES.gate("image_dhash", (
    """
        WITH imgs AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents),
        """
    + _dhash_ctes
    + """
        SELECT d.id::BIGINT AS doc_id, m.w::BIGINT AS width,
               m.h::BIGINT AS height, d.dhash
        FROM dh d JOIN dims m ON m.id = d.id
        """
), Plan(
    # Arrow-batched decode+hash: pure mapInPandas, zero shuffles
    shuffles=0, must=["MapInPandas"], must_not=["Exchange"],
))
def q_image_dhash(spark, sf_dir):
    """Perceptual dHash over REAL decoded BMP pixels: id-derived textured
    images, nearest-neighbor 9x8 grayscale sample, adjacent-column
    comparisons packed into one int64 — every integer step restated by
    the oracle from doc_id arithmetic alone."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return extract_dhash(attach_bmp_payload(docs, texture=True))


@GATES.gate("image_neardup", (
    """
        WITH imgs AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS id, doc_id AS img, 5 AS bias FROM documents),
        """
    + _dhash_ctes
    + """
        , kept AS (
          SELECT d.id, d.dhash FROM dh d JOIN dims m ON m.id = d.id
          WHERE m.w >= 8 AND m.h >= 8),
        bands AS (
          SELECT id, dhash, bb.band,
                 substr(printf('%016x', dhash), 1 + 4 * bb.band, 4) AS bucket
          FROM kept, (VALUES (0), (1), (2), (3)) AS bb(band)),
        bands_c AS (
          SELECT id, dhash, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
            FROM bands)
          WHERE bsz <= 64),
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 a.dhash AS ha, b.dhash AS hb
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
        SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
               bit_count(xor(ha, hb))::BIGINT AS hamming
        FROM pairs WHERE bit_count(xor(ha, hb)) <= 8
        """
), Plan(
    # banding cap window + per-bucket collect of the capped banded pairs
    # — the simhash_pairs shape over image fingerprints, decoded once;
    # never a cartesian
    shuffles=2,
    must=["MapInPandas"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
))
def q_image_neardup(spark, sf_dir):
    """Image near-duplicate detection at corpus scale: originals +
    brightness-shifted copies (the classic re-encode twin), perceptual
    dHash per image, banded Hamming pairing (hamming_pairs64 — one
    banding shuffle + capped per-bucket pair collect, never n^2). Thumbnails
    (< 8px a side) are skipped — their perceptual hash is noise."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    orig = attach_bmp_payload(docs, texture=True)
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("doc_id").alias("img_src")
    )
    pert = attach_bmp_payload(
        copies, src_col="img_src", bias=5, texture=True
    ).select("doc_id", "payload")
    hashes = (
        extract_dhash(orig)
        .unionByName(extract_dhash(pert))
        .filter((F.col("width") >= 8) & (F.col("height") >= 8))
        .select("doc_id", "dhash")
    )
    return hamming_pairs64(hashes, "doc_id", "dhash", max_hamming=8, max_bucket=64)


@GATES.gate("audio_fingerprint", (
    """
        WITH snds AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents),
        """
    + _afp_ctes
    + """
        SELECT f.id::BIGINT AS doc_id,
               CASE c.img % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                              WHEN 2 THEN 22050 ELSE 44100 END::BIGINT
                 AS sample_rate,
               c.n::BIGINT AS n_samples, f.fingerprint
        FROM fp f JOIN clip c ON c.id = f.id
        """
), Plan(
    # Arrow-batched WAV decode + fingerprint: zero shuffles
    shuffles=0, must=["MapInPandas"], must_not=["Exchange"],
))
def q_audio_fingerprint(spark, sf_dir):
    """Waveform difference-fingerprint over REAL decoded PCM samples:
    65 duration-invariant sample points, adjacent comparisons packed
    into one int64 — the audio analogue of image_dhash, every step
    oracle-restated from doc_id arithmetic."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return extract_audio_fingerprint(attach_pcm_wav_payload(docs, texture=True))


@GATES.gate("audio_neardup", (
    """
        WITH snds AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS id, doc_id AS img, 4 AS bias FROM documents),
        """
    + _afp_ctes
    + """
        , bands AS (
          SELECT id, fingerprint, bb.band,
                 substr(printf('%016x', fingerprint), 1 + 4 * bb.band, 4)
                   AS bucket
          FROM fp, (VALUES (0), (1), (2), (3)) AS bb(band)),
        bands_c AS (
          SELECT id, fingerprint, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
            FROM bands)
          WHERE bsz <= 64),
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 a.fingerprint AS ha, b.fingerprint AS hb
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
        SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
               bit_count(xor(ha, hb))::BIGINT AS hamming
        FROM pairs WHERE bit_count(xor(ha, hb)) <= 8
        """
), Plan(
    # same banded pairing shape as image_neardup
    shuffles=2,
    must=["MapInPandas"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
))
def q_audio_neardup(spark, sf_dir):
    """Audio near-duplicate detection: originals + DC-shifted re-levels
    of the same recording, difference fingerprints, banded Hamming
    pairing via the shared hamming_pairs64 — the whole perceptual-dedup
    stack (text SimHash / image dHash / audio fingerprint) funnels into
    ONE scale-safe pairing operator."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    orig = attach_pcm_wav_payload(docs, texture=True)
    copies = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("doc_id").alias("src")
    )
    pert = attach_pcm_wav_payload(
        copies, src_col="src", bias=4, texture=True
    ).select("doc_id", "payload")
    fps = (
        extract_audio_fingerprint(orig)
        .unionByName(extract_audio_fingerprint(pert))
        .select("doc_id", "fingerprint")
    )
    return hamming_pairs64(fps, "doc_id", "fingerprint", max_hamming=8, max_bucket=64)


# multimodal_cluster_split: the three modality edge CTEs replayed
# verbatim (text = minhash/bands/bands_c, image = _dhash_ctes +
# i-prefixed banding, audio = _afp_ctes + a-prefixed banding), edges
# unioned, recursive CC, cluster_split's md5 split rule on the label
@GATES.gate("multimodal_cluster_split", (
    "WITH RECURSIVE " + _NEARDUP_CORPUS_SQL
    + ", sig AS (" + _minhash_sql("corpus")
    + "), bands AS (" + _bands_sql() + "), " + _BANDS_CAPPED_SQL
    + """,
        tpairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands_c a JOIN bands_c b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id),
        imgs AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS id, doc_id AS img, 5 AS bias
          FROM documents),
        """
    + _dhash_ctes
    + """,
        ikept AS (
          SELECT d.id, d.dhash FROM dh d JOIN dims m ON m.id = d.id
          WHERE m.w >= 8 AND m.h >= 8),
        ibands AS (
          SELECT id, dhash, bb.band,
                 substr(printf('%016x', dhash), 1 + 4 * bb.band, 4) AS bucket
          FROM ikept, (VALUES (0), (1), (2), (3)) AS bb(band)),
        ibands_c AS (
          SELECT id, dhash, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
            FROM ibands)
          WHERE bsz <= 64),
        ipairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM ibands_c a JOIN ibands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          WHERE bit_count(xor(a.dhash, b.dhash)) <= 8),
        snds AS (
          SELECT doc_id AS id, doc_id AS img, 0 AS bias FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS id, doc_id AS img, 4 AS bias
          FROM documents),
        """
    + _afp_ctes
    + """,
        abands AS (
          SELECT id, fingerprint, bb.band,
                 substr(printf('%016x', fingerprint), 1 + 4 * bb.band, 4)
                   AS bucket
          FROM fp, (VALUES (0), (1), (2), (3)) AS bb(band)),
        abands_c AS (
          SELECT id, fingerprint, band, bucket FROM (
            SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
            FROM abands)
          WHERE bsz <= 64),
        apairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM abands_c a JOIN abands_c b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 8),
        alledges AS (
          SELECT id_a, id_b FROM tpairs
          UNION SELECT id_a, id_b FROM ipairs
          UNION SELECT id_a, id_b FROM apairs),
        sym AS (
          SELECT id_a AS a, id_b AS b FROM alledges
          UNION
          SELECT id_b, id_a FROM alledges),
        reach(node, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b),
        labels AS (
          SELECT node, min(r) AS label FROM reach GROUP BY node),
        allids AS (
          SELECT doc_id FROM documents
          UNION ALL
          SELECT doc_id + 100000 FROM documents),
        grouped AS (
          SELECT c.doc_id::BIGINT AS doc_id,
                 coalesce(l.label, c.doc_id)::BIGINT AS split_group
          FROM allids c LEFT JOIN labels l ON l.node = c.doc_id)
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
    # three banded edge pipelines feed CC on the union edge list, which
    # materializes eagerly (checkpointed, like cluster_split) — so the
    # FINAL plan is just broadcast label join + map-side split rule and
    # the corpus never shuffles
    shuffles=2,
    must=["BroadcastHashJoin"],
    must_not=["SortMergeJoin", "CartesianProduct"],
))
def q_multimodal_cluster_split(spark, sf_dir):
    """Cross-modality leakage-safe split: near-dup EDGES from all three
    perceptual pipelines — text MinHash-LSH pairs, image dHash Hamming
    pairs, audio fingerprint Hamming pairs — unioned into ONE graph, so
    each connected component (which may SPAN modalities: doc A text-twins
    doc B whose image twins doc C) moves into train/val/test as a unit.
    This is the contamination guarantee a multimodal training corpus
    actually needs — an eval doc must have no train twin in ANY modality;
    per-modality splits leak through the other two.

    Scale shape identical to cluster_split: the three edge lists are
    banded-LSH outputs (never all-pairs, degenerate buckets capped),
    connected components runs over the UNION OF EDGES only, labels
    broadcast back, and the corpus itself is never shuffled — the split
    is a map-side md5 rule on the component label."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    twins = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("doc_id").alias("src")
    )

    # text edges: MinHash-LSH over originals + ' the end' twins
    tpairs = neardup_pairs_minhash(
        _neardup_corpus(spark, sf_dir), "doc_id", "text",
        n_hashes=8, bands=4, shingle_k=5,
        repartition=spark.sparkContext.defaultParallelism,
    ).select("id_a", "id_b")

    # image edges: perceptual dHash over originals + brightness-shifted twins
    ih = (
        extract_dhash(attach_bmp_payload(docs, texture=True))
        .unionByName(
            extract_dhash(
                attach_bmp_payload(
                    twins, src_col="src", bias=5, texture=True
                ).select("doc_id", "payload")
            )
        )
        .filter((F.col("width") >= 8) & (F.col("height") >= 8))
        .select("doc_id", "dhash")
    )
    ipairs = hamming_pairs64(
        ih, "doc_id", "dhash", max_hamming=8, max_bucket=64
    ).select("id_a", "id_b")

    # audio edges: difference fingerprints over originals + DC-shifted twins
    af = (
        extract_audio_fingerprint(attach_pcm_wav_payload(docs, texture=True))
        .unionByName(
            extract_audio_fingerprint(
                attach_pcm_wav_payload(
                    twins, src_col="src", bias=4, texture=True
                ).select("doc_id", "payload")
            )
        )
        .select("doc_id", "fingerprint")
    )
    apairs = hamming_pairs64(
        af, "doc_id", "fingerprint", max_hamming=8, max_bucket=64
    ).select("id_a", "id_b")

    edges = tpairs.unionByName(ipairs).unionByName(apairs).distinct()
    corpus = docs.unionByName(twins.select("doc_id"))
    out = leakage_safe_split(
        corpus, edges, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("split_group").cast("long").alias("split_group"),
        "split",
    )
