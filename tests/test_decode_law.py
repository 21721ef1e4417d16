"""Law tests pinning the image decoders to a fixed reference.

* ``PIXELS``: SHA-256 of the decoded pixels for baseline JPEG (gray,
  4:4:4, 4:2:2, 4:2:0), progressive JPEG (gray and colour) at sizes that
  are not multiples of 8 or 16, and PNG filters 0-4 at 1, 2, 3 and 4
  channels. The digests were computed with the bit-at-a-time Huffman
  reader, per-block IDCT and per-pixel numpy unfilters that the
  peek-table reader, batched IDCT and vectorised unfilters replaced.
* ``golden/decode_truncation.json``: for every prefix of seven payloads,
  whether that reference decoder returned pixels (and their digest) or
  raised. The same prefixes must raise, and they must raise ValueError.
* ``ENCODERS``: SHA-256 of the fixture encoders' output (default
  arguments included), so inputs regenerated from them (tests, perfbench
  caches) stay byte-identical.
* Restart intervals (DRI/RSTn): a DRI encoding decodes to the same
  pixels as the plain one, and a missing or misplaced RST marker raises.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import zlib

import numpy as np
import pytest

from bun_csv_spark.multimodal.binary import (
    _encode_baseline,
    _encode_progressive,
    decode_image,
    decode_jpeg_pixels,
    decode_png_pixels,
    make_jpeg_color_payload,
    make_jpeg_gray_payload,
    make_jpeg_progressive_gray_payload,
    make_jpeg_progressive_payload,
)

# T.81 Annex K.1 luminance quantization table, raster order
QUANT_K = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]


def _image(kind: str, w: int, h: int, ch: int, seed: int) -> np.ndarray:
    """``noise``: uniform bytes (large coefficients, long Huffman codes);
    ``smooth``: a gradient plus low noise (zero runs, ZRL, EOB)."""
    rng = np.random.default_rng(seed)
    if kind == "noise":
        return rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    y, x = np.mgrid[0:h, 0:w]
    base = (3 * x + 2 * y)[:, :, None] + 40 * np.arange(ch)[None, None, :]
    return ((base + rng.integers(0, 9, (h, w, ch))) % 256).astype(np.uint8)


def _ycbcr(px: np.ndarray) -> list:
    p = px.astype(np.float64)
    b, g, r = p[:, :, 0], p[:, :, 1], p[:, :, 2]
    return [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]


def _jpeg(spec: str, restart_interval: int = 0) -> bytes:
    """``mode-layout-kind-WxH-quant``, e.g. ``base-420-noise-37x23-flat``."""
    mode, layout, kind, dims, qname = spec.split("-")
    w, h = (int(v) for v in dims.split("x"))
    quant = QUANT_K if qname == "k" else None
    seed = sum(spec.encode())
    if layout == "gray":
        g = _image(kind, w, h, 1, seed)[:, :, 0]
        if restart_interval:
            return _encode_baseline([g], w, h, quant, restart_interval=restart_interval)
        make = make_jpeg_gray_payload if mode == "base" else make_jpeg_progressive_gray_payload
        return make(w, h, g.tobytes(), quant)
    px = _image(kind, w, h, 3, seed)
    if layout == "422" or restart_interval:
        samp = {"444": None, "420": [(2, 2), (1, 1), (1, 1)],
                "422": [(2, 1), (1, 1), (1, 1)]}[layout]
        if mode == "prog":
            return _encode_progressive(_ycbcr(px), w, h, quant, samp)
        if restart_interval:
            return _encode_baseline(_ycbcr(px), w, h, quant, samp,
                                    restart_interval=restart_interval)
        return _encode_baseline(_ycbcr(px), w, h, quant, samp)
    make = make_jpeg_color_payload if mode == "base" else make_jpeg_progressive_payload
    return make(w, h, px.tobytes(), quant, subsampling=layout)


_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels -> IHDR colour type


def _png(spec: str) -> bytes:
    """``png-<channels>-<filter 0..4 | mixed>-WxH``: an 8-bit PNG whose
    scanlines are forward-filtered here, independently of the decoder."""
    _, ch, filt, dims = spec.split("-")
    ch = int(ch)
    w, h = (int(v) for v in dims.split("x"))
    img = _image("noise", w, h, ch, sum(spec.encode())).reshape(h, w * ch).astype(np.int64)
    raw = bytearray()
    for y in range(h):
        ftype = y % 5 if filt == "mixed" else int(filt)
        line = img[y]
        up = img[y - 1] if y else np.zeros_like(line)
        left = np.concatenate([np.zeros(ch, np.int64), line[:-ch]])
        upleft = np.concatenate([np.zeros(ch, np.int64), up[:-ch]])
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
        pred = [np.zeros_like(line), left, up, (left + up) // 2, paeth][ftype]
        raw.append(ftype)
        raw += ((line - pred) & 0xFF).astype(np.uint8).tobytes()

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">II5B", w, h, 8, _PNG_COLOR_TYPE[ch], 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def _payload(spec: str) -> bytes:
    return _png(spec) if spec.startswith("png-") else _jpeg(spec)


def _digest(out: np.ndarray) -> str:
    return hashlib.sha256(np.ascontiguousarray(out).tobytes()).hexdigest()


# spec -> (width, height, channels out, sha256 of the decoded pixels)
PIXELS = {
    "base-420-noise-16x16-flat": (16, 16, 3,
        "6f3784446faed146ff8525243e433e5cc664b9d5fc5f1ccd5148b40a29bc6996"),
    "base-420-noise-37x23-flat": (37, 23, 3,
        "22acfb1728eb6aea4a9c372d545c5828da82ca42dc6cae1199da3c902e27a403"),
    "base-420-noise-5x3-k": (5, 3, 3,
        "1c0b2bf603778cc38de79cecda9d793ddefed3c85631555f17f9eb45ceb3c92c"),
    "base-420-smooth-45x29-k": (45, 29, 3,
        "907765d4df96b6ec404b96893c118290a80dbdb4061202ad80f13b352ff82ae6"),
    "base-422-noise-26x15-k": (26, 15, 3,
        "55927af6a272801679ae088fd83f50e43fbd23f6cd7da2467a82950759c0bb56"),
    "base-422-smooth-33x9-flat": (33, 9, 3,
        "7f50548765bb9b5215582436535f0d91db0a4f915ff0d5c065f55921f69c03fa"),
    "base-444-noise-19x11-flat": (19, 11, 3,
        "12f9e96b4d05fb06c2103a2d5817da3356dae0cb48ee461447939c01e86c9981"),
    "base-444-smooth-27x17-k": (27, 17, 3,
        "4256fdc74ba5ae2660a7de7101b568d0c724a563c37fc43371ba7a3015e06b1c"),
    "base-gray-noise-21x13-flat": (21, 13, 3,
        "a35a1f1ebec36a5dbb8972be5cdb0a95345ac5278ab39438832d9903f203e424"),
    "base-gray-noise-8x8-flat": (8, 8, 3,
        "424d1952aaef865748b768a8db5a893d1082227a4cb7d0798859f07267c77f74"),
    "base-gray-smooth-35x22-k": (35, 22, 3,
        "b053670602a87c6c6e4073eaff9c7469ec5146e687c32749d98d9ec751446ab2"),
    "png-1-0-13x7": (13, 7, 1,
        "c86bbfd376b38610afd070fc0c4af79a55a199948016bc905c01fefc26605aae"),
    "png-1-1-13x7": (13, 7, 1,
        "16b3b31601417aadcc0a9be4567ebf33b88c2892cdbbc026fab1b300b72e19e8"),
    "png-1-2-13x7": (13, 7, 1,
        "4de85042487bb8188e4d2537b96fb57f838622731ce6f16cd5bcec9616cf8574"),
    "png-1-3-13x7": (13, 7, 1,
        "2aa98bdbbab63c0be2e3f39a6cb32f3dbf9e0577d1fe98f53d413440f0eba2d6"),
    "png-1-4-13x7": (13, 7, 1,
        "13faf9e892caa05d3c6b969499f94e5118c90bced41090602dbbe98eb7e1e81d"),
    "png-1-mixed-13x7": (13, 7, 1,
        "c8350f592555232055f2c5b8400c4d3f2d374355750b2c2e424408f53892b949"),
    "png-1-mixed-1x6": (1, 6, 1,
        "55a80d6fd9e08a86a3754efec0409e299b43269b5328e10dcf59a4dfaebe831b"),
    "png-2-0-13x7": (13, 7, 2,
        "3ba06c71b97068af860312420616165b407050ce63131f573992d56a309d2d7b"),
    "png-2-1-13x7": (13, 7, 2,
        "5c7962a3bcfefc2d166dfc44d39449ac75c578fad31e5fe00f8247f4b78db6c2"),
    "png-2-2-13x7": (13, 7, 2,
        "29eb6701cb7429f25288c174d821ab8029870bca6d0ae1015ee00804b8c9a1fa"),
    "png-2-3-13x7": (13, 7, 2,
        "f349ca829fa8f6d03c2b248082481825d59a2a102344847307f308e12138c078"),
    "png-2-4-13x7": (13, 7, 2,
        "8b4e06ab362d45bd96f1bd9e0017084f6f80bc85e4ffe0c0a52d21447058e336"),
    "png-2-4-3x1": (3, 1, 2,
        "a3b0cd131b7ad42dd646531ce1e8d31b7e939a0b78b8323f2cd120d9170624e1"),
    "png-2-mixed-13x7": (13, 7, 2,
        "e7f08c30f90b430e527d52a495125cb9e627df631a166e79248103673b44a0eb"),
    "png-3-0-13x7": (13, 7, 3,
        "c882f02f1702e018470159043079c999fbb84a0125f66c8460cc59b4646c20ea"),
    "png-3-1-13x7": (13, 7, 3,
        "83cc7b474a9c3777a9b63cc3e756e369f1970eaefa3302d824e02f774ecc616d"),
    "png-3-2-13x7": (13, 7, 3,
        "182651b29e0da6e282426f1760444a368b07253dac2b30cb6b6b8220c8ac192d"),
    "png-3-3-13x7": (13, 7, 3,
        "29fccc8bdcdce83bfa481f7e724dd2c5b2e94f396fe8bfb65de1da411f579267"),
    "png-3-4-13x7": (13, 7, 3,
        "84106d8227ec150a694d9497e35abd7f86b07b78eb1397ad680d6e3afb0e5c07"),
    "png-3-mixed-13x7": (13, 7, 3,
        "c73faaad23e253f5fc41ff0b7c909e47caf67f19cff1d4dcb9f262861eba98bf"),
    "png-4-0-13x7": (13, 7, 4,
        "e9ad565697ff5164943d60e1d7db79cef232e1d61b80dea7244ddc8772fc7196"),
    "png-4-1-13x7": (13, 7, 4,
        "89537ac5b8d5aa5a088adb981022fd1a568c2cb3641f7ebc013be96b3c33ac2c"),
    "png-4-2-13x7": (13, 7, 4,
        "0cc019568e25b7fa5f4f73e7a7413daa6b9148b9307bc6287bad442c49587fd0"),
    "png-4-3-13x7": (13, 7, 4,
        "a2d221de2dc59320381f4895b8e4ff013b184f8f80e4af2dfdcbac3894ab1cd4"),
    "png-4-4-13x7": (13, 7, 4,
        "ff16c22550d7b57d1ed6eac3050aabd7bac2df1afca4215fe04f6fde7f44c3ba"),
    "png-4-mixed-13x7": (13, 7, 4,
        "0fd5ef1e49a10146198aca904612f036374c166bb4b78c925a7f177a432fff30"),
    "png-4-mixed-40x11": (40, 11, 4,
        "c53334574ee49071077ee2ae3042376f3a966b1d8d39c5abbd0df6f2e9fd378a"),
    "prog-420-noise-30x18-flat": (30, 18, 3,
        "e08f301453a0f16020a620bd835d3c97fce682e4ced97aa8a1753c6e23f9f2e9"),
    "prog-420-smooth-41x27-k": (41, 27, 3,
        "00f176080f88e46428a9081f1c6c28ac35e665588fd4a7ff44ef8dee067a8da0"),
    "prog-422-smooth-26x15-k": (26, 15, 3,
        "fb5ec3871b2332377806cd7655a9c98e79dc37bf35377b597c0ef89872e7cc27"),
    "prog-444-noise-13x21-flat": (13, 21, 3,
        "fd30ecd3fcc2ff7baf15ca2889b5fc5a434b57c494a617ee02fdcb6a337a956d"),
    "prog-444-smooth-29x18-k": (29, 18, 3,
        "4cd6426c12f9f7ab7a81b36700b4fbf8ad33a1dd803abd5cf4d6859e7ddd15b5"),
    "prog-gray-noise-27x15-flat": (27, 15, 3,
        "0f1b4891432d3807e6692036ae1593fb9c390ec75c1cd0dda7319564cb670041"),
    "prog-gray-smooth-22x30-k": (22, 30, 3,
        "267b274ecbff6b54367e190911dc96b4bd86699f446b22617fd17719e040ec18"),
}


@pytest.mark.parametrize("spec", sorted(PIXELS))
def test_decoded_pixels_match_reference(spec):
    w, h, ch, digest = PIXELS[spec]
    got_w, got_h, out = decode_image(_payload(spec))
    assert (got_w, got_h) == (w, h)
    assert out.shape == (h, w, ch) and out.dtype == np.uint8
    assert _digest(out) == digest


@pytest.mark.parametrize(
    "spec", ["base-420-smooth-45x29-k", "prog-420-noise-30x18-flat", "png-3-mixed-13x7"]
)
@pytest.mark.parametrize("wrap", [bytearray, memoryview])
def test_bytes_like_input_decodes_like_bytes(spec, wrap):
    decode = decode_png_pixels if spec.startswith("png-") else decode_jpeg_pixels
    b = _payload(spec)
    assert _digest(decode(wrap(b))[2]) == PIXELS[spec][3]
    with pytest.raises(ValueError):
        decode(wrap(b[: len(b) // 2]))


# name -> payload spec; ``@dri<n>`` re-encodes the baseline spec with a
# restart interval of n MCUs
TRUNCATION_PAYLOADS = {
    "baseline": "base-420-noise-21x13-k",
    # scans whose last byte is 0x7F, one real bit then pad bits, so the
    # prefix without it is one bit short: of the final EOB code, of the
    # final AC value, and of the DC-first, DC-refinement and last
    # AC-refinement scans
    "baseline_gray": "base-gray-noise-12x11-k",
    "baseline_gray_flat": "base-gray-noise-10x7-flat",
    "progressive_gray": "prog-gray-noise-14x9-k",
    "baseline_dri": "base-444-smooth-19x12-k@dri2",
    "progressive": "prog-420-noise-19x13-k",
    "png": "png-3-mixed-17x9",
}


def _sweep_payload(spec: str) -> bytes:
    spec, _, dri = spec.partition("@dri")
    return _jpeg(spec, int(dri)) if dri else _payload(spec)


def _truncation_golden() -> dict:
    path = os.path.join(os.path.dirname(__file__), "golden", "decode_truncation.json")
    with open(path) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(TRUNCATION_PAYLOADS))
def test_truncated_prefixes_raise_exactly_where_reference_did(name):
    """Every prefix either decodes to the reference's pixels or raises
    ValueError, and the raising prefixes are the reference's. (The
    reference leaked IndexError, struct.error or zlib.error on some of
    them; the golden file keeps those type names.)"""
    golden = _truncation_golden()[name]
    b = _sweep_payload(TRUNCATION_PAYLOADS[name])
    assert len(b) == golden["len"]
    raising = {k for lo, hi, _ in golden["raise"] for k in range(lo, hi)}
    ok = {int(k): v for k, v in golden["ok"].items()}
    assert raising.isdisjoint(ok) and len(raising) + len(ok) == len(b) + 1
    for k in range(len(b) + 1):
        if k in raising:
            with pytest.raises(ValueError):
                decode_image(b[:k])
        else:
            assert _digest(decode_image(b[:k])[2]) == ok[k], k


# (encoder, args) name -> sha256 of the encoded bytes
ENCODERS = {
    "color_420": "11791d269f61aa6e7f5b65ee6d110ed67df4fd3b04a83883f6ff56a3b7baea10",
    "color_444": "8ab0f5f5cb5cb80af948bc349bf0098ae8a7c4b0c2381a760e4e44981e1ed234",
    "gray": "4882eaa30e5877f3b354400efdddb37e522ec64107beb6711c16bce018cc1393",
    "gray_dri3": "e11dc66dc7f73025d86243cba28d980f4b70f37136a2b21e24a134d4b1985d62",
    "progressive_420": "5884cd33ed21a33aef64c775366eb9c1fda45ae5ab4209f99937cc4ea9fe93fb",
    "progressive_444": "bbea93f3707b6e1b0542566a33fe943ce4b71d47c32ff29fc2ec450207f23594",
}


def _encoder_output(name: str) -> bytes:
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (21, 26, 3), dtype=np.uint8).tobytes()
    if name == "color_444":
        return make_jpeg_color_payload(26, 21, px, subsampling="444")
    if name == "color_420":
        return make_jpeg_color_payload(26, 21, px, QUANT_K, subsampling="420")
    if name == "progressive_420":
        return make_jpeg_progressive_payload(26, 21, px, subsampling="420")
    if name == "progressive_444":
        return make_jpeg_progressive_payload(26, 21, px, QUANT_K)
    if name == "gray":
        return make_jpeg_gray_payload(26, 21, px[: 26 * 21])
    if name == "gray_dri3":
        return _encode_baseline(
            [np.frombuffer(px[: 26 * 21], np.uint8).reshape(21, 26)], 26, 21,
            QUANT_K, restart_interval=3,
        )
    raise KeyError(name)


@pytest.mark.parametrize("name", sorted(ENCODERS))
def test_encoder_bytes_pinned(name):
    assert hashlib.sha256(_encoder_output(name)).hexdigest() == ENCODERS[name]


# --- restart intervals ------------------------------------------------------


def _rst_positions(b: bytes) -> list:
    """Byte offsets of the RSTn markers in a baseline payload's scan."""
    start = b.index(b"\xff\xda")
    return [i for i in range(start, len(b) - 1)
            if b[i] == 0xFF and 0xD0 <= b[i + 1] <= 0xD7]


@pytest.mark.parametrize("spec", [
    "base-gray-noise-21x13-flat", "base-444-smooth-27x17-k",
    "base-420-noise-37x23-flat", "base-422-smooth-26x15-k",
])
@pytest.mark.parametrize("interval", [1, 2, 3])
def test_restart_interval_decodes_identically(spec, interval):
    plain, dri = _jpeg(spec), _jpeg(spec, interval)
    assert b"\xff\xdd" in dri and b"\xff\xdd" not in plain
    assert len(_rst_positions(dri)) > 0
    assert np.array_equal(decode_image(plain)[2], decode_image(dri)[2])


def test_missing_rst_marker_raises():
    b = _jpeg("base-444-smooth-27x17-k", 2)
    for p in _rst_positions(b)[:3]:
        with pytest.raises(ValueError, match="expected RST marker"):
            decode_image(b[:p] + b[p + 2:])


def test_misplaced_rst_marker_raises():
    b = _jpeg("base-444-smooth-27x17-k", 2)
    rst = _rst_positions(b)
    # one marker moved two bytes earlier: the interval before it ends
    # inside a block, the one after starts mid-stream
    p = rst[1]
    moved = b[: p - 2] + b[p : p + 2] + b[p - 2 : p] + b[p + 2 :]
    with pytest.raises(ValueError, match="unexpected RST marker inside block"):
        decode_image(moved)
    # a marker where no restart is due: inside the first interval's data
    q = b.index(b"\xff\xda") + 14 + 1
    with pytest.raises(ValueError, match="unexpected RST marker inside block"):
        decode_image(b[:q] + b"\xff\xd5" + b[q:])


def test_corrupt_headers_raise_valueerror():
    """Header faults that used to leak KeyError raise ValueError."""
    b = _jpeg("base-444-smooth-27x17-k")
    bad = bytearray(b)
    bad[b.index(b"\xff\xda") + 5] = 9  # SOS names a component the frame lacks
    with pytest.raises(ValueError, match="unknown component"):
        decode_image(bytes(bad))
    dqt = b.index(b"\xff\xdb")
    (seglen,) = struct.unpack_from(">H", b, dqt + 2)
    with pytest.raises(ValueError, match="quantization table"):
        decode_image(b[:dqt] + b[dqt + 2 + seglen:])


def test_ac_run_past_block_end_raises():
    """An 8x8 gray baseline JPEG whose only AC code is run 15 / size 1:
    four of them carry the AC index past 63."""

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    one_code = bytes([1] + [0] * 15)  # one symbol with a 1-bit code
    b = (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
        + seg(0xC4, b"\x00" + one_code + b"\x00" + b"\x10" + one_code + b"\xf1")
        + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        # DC: '0' (size 0); AC: four x ('0' code, '1' value bit); 1-pad
        + b"\x2a\xff\x00"
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="AC run past block end"):
        decode_jpeg_pixels(b)
