"""Law test pinning the multimodal fixture writers and extractors.

``golden/multimodal_harness.json`` holds, for ``doc_id`` 0..47:

* ``payload:<writer>``: the SHA-256 of every ``attach_*_payload``'s
  payload bytes in ``doc_id`` order (each prefixed by its length), for
  the default arguments and the ``texture`` and ``bias`` variants the
  gates use;
* ``rows:<extractor>``: the SHA-256 of each extractor's sorted output
  rows over the matching payloads.

The gates' oracles pin only sums and hashes of these outputs, so this
file is what holds the fixture bytes and whole extractor rows fixed.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os

import pytest

from bun_csv_spark.multimodal import binary as mm

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden", "multimodal_harness.json")
with open(GOLDEN_PATH) as _f:
    GOLDEN = json.load(_f)


def _docs(spark):
    """48 docs whose text mixes ASCII and two-byte UTF-8 characters."""
    return spark.createDataFrame(
        [(i, f"doc {i} " + "x" * (i % 7) + " é" * (i % 3)) for i in range(48)],
        "doc_id long, text string",
    )


def _payload_digest(df) -> str:
    h = hashlib.sha256()
    for r in df.orderBy("doc_id").select("payload").collect():
        b = bytes(r.payload)
        h.update(len(b).to_bytes(8, "little") + b)
    return h.hexdigest()


def _rows_digest(df) -> str:
    rows = sorted(tuple(r) for r in df.collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _dhash(df):
    """``extract_dhash`` with ``decode_image`` as its decoder: passed as
    ``decoder`` where the function still takes one."""
    if "decoder" in inspect.signature(mm.extract_dhash).parameters:
        return mm.extract_dhash(df, decoder=mm.decode_image)
    return mm.extract_dhash(df)


def digests(spark) -> dict:
    """Every pinned digest, keyed as in the golden file."""
    docs = _docs(spark)
    ids = docs.select("doc_id")
    payloads = {
        "binary": mm.attach_binary_payload(docs),
        "wav": mm.attach_wav_payload(docs),
        "png": mm.attach_png_payload(ids),
        "bmp": mm.attach_bmp_payload(ids),
        "bmp_texture": mm.attach_bmp_payload(ids, texture=True),
        "bmp_texture_bias5": mm.attach_bmp_payload(ids, texture=True, bias=5),
        "pcm_wav": mm.attach_pcm_wav_payload(ids),
        "pcm_wav_texture": mm.attach_pcm_wav_payload(ids, texture=True),
        "pcm_wav_texture_bias4": mm.attach_pcm_wav_payload(ids, texture=True, bias=4),
        "png_rgb": mm.attach_png_rgb_payload(ids),
        "gif": mm.attach_gif_payload(ids),
        "jpeg": mm.attach_jpeg_payload(ids),
        "jpeg420": mm.attach_jpeg420_payload(ids),
        "jpeg_progressive": mm.attach_jpeg_progressive_payload(ids),
        "avi": mm.attach_avi_mjpeg_payload(ids),
    }
    p = payloads
    rows = {
        "extract_image_meta:png": mm.extract_image_meta(p["png"]),
        "extract_image_meta:gif": mm.extract_image_meta(p["gif"]),
        "extract_image_meta:jpeg": mm.extract_image_meta(p["jpeg"]),
        "extract_image_meta:bmp": mm.extract_image_meta(p["bmp"]),
        "extract_audio_meta:wav": mm.extract_audio_meta(p["wav"]),
        "extract_audio_meta:binary": mm.extract_audio_meta(p["binary"]),
        "sample_frames:wav": mm.sample_frames(p["wav"], every_ms=10),
        "sample_frames:binary": mm.sample_frames(p["binary"]),
        "sample_frames:avi": mm.sample_frames(p["avi"], every_ms=40),
        "extract_binary_features:binary": mm.extract_binary_features(p["binary"]),
        "extract_binary_features:bmp": mm.extract_binary_features(p["bmp"]),
        "extract_pixel_stats:bmp": mm.extract_pixel_stats(p["bmp"]),
        "extract_pixel_stats:png_rgb": mm.extract_pixel_stats(
            p["png_rgb"], decoder=mm.decode_image),
        "extract_pixel_stats:gif": mm.extract_pixel_stats(
            p["gif"], decoder=mm.decode_image, channel_cols=("sum_r", "sum_g", "sum_b")),
        "extract_pixel_stats:jpeg": mm.extract_pixel_stats(
            p["jpeg"], decoder=mm.decode_jpeg_pixels),
        "extract_pixel_stats:jpeg420": mm.extract_pixel_stats(
            p["jpeg420"], decoder=mm.decode_jpeg_pixels),
        "extract_pixel_stats:jpeg_progressive": mm.extract_pixel_stats(
            p["jpeg_progressive"], decoder=mm.decode_jpeg_pixels),
        "extract_audio_stats:pcm_wav": mm.extract_audio_stats(p["pcm_wav"]),
        "extract_dhash:bmp": _dhash(p["bmp"]),
        "extract_dhash:bmp_texture": _dhash(p["bmp_texture"]),
        "extract_dhash:bmp_texture_bias5": _dhash(p["bmp_texture_bias5"]),
        "extract_dhash:png_rgb": _dhash(p["png_rgb"]),
        "extract_audio_fingerprint:pcm_wav": mm.extract_audio_fingerprint(p["pcm_wav"]),
        "extract_audio_fingerprint:pcm_wav_texture": mm.extract_audio_fingerprint(
            p["pcm_wav_texture"]),
        "extract_audio_fingerprint:pcm_wav_texture_bias4": mm.extract_audio_fingerprint(
            p["pcm_wav_texture_bias4"]),
        "sample_video_frames:avi": mm.sample_video_frames(p["avi"], every_ms=50),
        "sample_video_frames:avi_40ms": mm.sample_video_frames(
            p["avi"], every_ms=40, max_frames=3),
    }
    out = {f"payload:{k}": _payload_digest(v) for k, v in payloads.items()}
    out.update({f"rows:{k}": _rows_digest(v) for k, v in rows.items()})
    return out


@pytest.fixture(scope="module")
def got(spark):
    return digests(spark)


def test_golden_names_every_digest(got):
    assert sorted(got) == sorted(GOLDEN)


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_digest_matches_golden(got, name):
    assert got[name] == GOLDEN[name]
