"""Seeded input generators for the three benchmark workloads.

Each generator is a pure function of (seed, size): it writes its files into
a directory and returns the expectations the benchmark checks outputs
against. Expectations are computed here, from the generator's own arrays,
never by calling the code under test. Generation is not timed; ``prepare``
caches each input set by (workload, size, seed) and a digest of the code
that made it.

Seeds 900001 to 900010 are held out: no tuning of the benchmark used them,
so a later change can confirm a claimed gain on inputs it was not shaped on.

Shares are exact counts, not probabilities, and image sizes come from a
fixed multiset, so every seed asks for the same amount of work and only the
content changes from seed to seed.

Where the shares come from: ``PLANTED_SHARE`` is the near-duplicate density
of the repository's own document corpus generator (``tools/scale_docs.py``
plants one near-copy per 25 documents, ``id % 25 == 1``). No measured
corpus in the repository gives the other shares. Each of them only makes
sure its code path runs on a fixed amount of data; none was chosen to match
real traffic, and a later change should not read them as a traffic mix.

Why the input properties are what they are:

csv_etl
  * ``l_shipmode`` holds ``"AIR, EXPRESS"`` on a share of rows, a quoted
    field with the delimiter inside, so the tokenizers' quote handling runs.
  * ``l_comment`` is a quoted empty on ``QUOTED_EMPTY`` of the rows and an
    unquoted empty on ``UNQUOTED_EMPTY``: the reference maps the first to
    "" and the second to null, and both read paths must keep them apart.
    On ``QUOTED_COMMA`` of the rows it is quoted text holding the delimiter
    and escaped (doubled) quotes.
  * ``RAGGED_SHORT`` of the rows lack the trailing comment field and
    ``RAGGED_LONG`` carry one extra field. The native reader pads/truncates
    them; the exact path (``relax_column_count``) keeps the overflow in
    ``__parsed_extra``. Only the trailing text column is ragged, so the
    numeric sums are the same on every read path.
text_dedup
  * ``PLANTED_SHARE`` of the documents are near-copies (one word
    substituted) of another document, in clusters of 2 to 4. The share sets
    how many candidate pairs reach the verify stages.
  * ``WIDE_SHARE`` of the documents draw their words from the CJK block
    (U+4E00..U+9FFF). A wide per-batch alphabet is what grows the Myers
    ``Peq`` table in ``functions.editdist``.
  * Unplanted documents use random pseudo-words from a large vocabulary, so
    no unplanted pair is a near-duplicate and the planted clusters are the
    exact expected output.
media_decode
  * One stored payload table per format: baseline JPEG 4:4:4, baseline
    JPEG 4:2:0, progressive JPEG 4:2:0, PNG and 24-bit BMP. The JPEG and
    PNG tables hold each distinct image ``REPEAT`` times (see ``IMAGES``).
  * JPEG pixels are gray and constant per 8x8 block (4:4:4) or per 16x16
    macroblock (4:2:0), the inputs for which the flat-quant round trip is
    exact, so decoded pixel sums restate from the generator's arrays.
  * PNG rows cycle through all five scanline filters, as real encoders
    mix them, so both the vectorized and the per-pixel unfilter paths run.
  * BMPs are textured images plus brightness-shifted twins. A uniform
    shift keeps every gray-level comparison of dHash, so each twin lands
    at Hamming distance 0 from its original; the expected pair set is
    restated here by brute force over the generator's pixels.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib
from decimal import Decimal

import numpy as np

# -- csv_etl -----------------------------------------------------------------

SHIP_MODES = ("AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR", "AIR, EXPRESS")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
# path coverage only, not a traffic mix (see the module docstring)
RAGGED_SHORT = 0.02
RAGGED_LONG = 0.01
QUOTED_EMPTY = 0.03
UNQUOTED_EMPTY = 0.03
QUOTED_COMMA = 0.15
QUERY_FILTER = "l_quantity >= 10 && l_shipmode != 'RAIL'"
NUMERIC_COLS = (
    "l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax",
)
LINEITEM_COLS = NUMERIC_COLS + (
    "l_returnflag", "l_linestatus", "l_shipdate", "l_shipmode", "l_comment",
)

# -- text_dedup --------------------------------------------------------------

PLANTED_SHARE = 0.04  # tools/scale_docs.py: one near-copy per 25 documents
WIDE_SHARE = 0.15  # path coverage only, not a traffic mix

# -- media_decode ------------------------------------------------------------

FORMATS = ("jpeg444", "jpeg420", "jpeg_progressive", "png", "bmp")
TWIN_SHARE = 0.3  # path coverage only, not a traffic mix
MAX_HAMMING = 3

# distinct images per format at full size; smoke divides every count by 10.
# A JPEG or PNG table holds each distinct image REPEAT times: decoding is
# not cached, so every row costs a full decode, and the slow pure-Python
# encoders run once per distinct image only.
IMAGES = {"jpeg444": 40, "jpeg420": 65, "jpeg_progressive": 40, "png": 15, "bmp": 160}
REPEAT = 6
SIZES = {
    "full": {"csv_rows": 60_000, "docs": 800, "image_divisor": 1},
    "smoke": {"csv_rows": 500, "docs": 150, "image_divisor": 10},
}


def _exact(rng, n: int, shares: dict) -> np.ndarray:
    """``n`` labels with each label's share exact, in random order. Exact
    counts keep the work of a pass the same from seed to seed."""
    counts = {k: int(round(v * n)) for k, v in shares.items()}
    rest = n - sum(counts.values())
    labels = np.concatenate([np.full(c, k) for k, c in counts.items()] + [np.full(rest, -1)])
    return rng.permutation(labels)


def _dims(rng, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` (h, w) pairs from a fixed multiset over [lo, hi], in random
    order, so the total pixel count does not depend on the seed."""
    span = hi - lo + 1
    i = np.arange(n)
    return rng.permutation(np.stack([lo + i % span, lo + (i * 7) % span], axis=1))


def _words(rng, n_words: int, alphabet: np.ndarray, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n_words)
    chars = alphabet[rng.integers(0, len(alphabet), int(lens.sum()))]
    out, pos = [], 0
    for n in lens:
        out.append("".join(chars[pos:pos + n]))
        pos += n
    return out


def csv_etl(out_dir: str, seed: int, n_rows: int) -> dict:
    """lineitem.csv and orders.csv, TPC-H shaped, plus expectations."""
    rng = np.random.default_rng(seed)
    n_orders = max(1, n_rows // 4)
    okey = rng.integers(1, n_orders + 1, n_rows)
    lnum = rng.integers(1, 8, n_rows)
    pkey = rng.integers(1, 200_001, n_rows)
    qty = rng.integers(1, 51, n_rows)
    cents = rng.integers(100, 10_000_000, n_rows)
    disc = rng.integers(0, 11, n_rows)
    tax = rng.integers(0, 9, n_rows)
    rflag = rng.choice(np.array(["A", "N", "R"]), n_rows)
    lstat = rng.choice(np.array(["O", "F"]), n_rows)
    day = rng.integers(0, 2557, n_rows)
    dates = (np.datetime64("1992-01-01") + day).astype(str)
    mode = rng.integers(0, len(SHIP_MODES), n_rows)
    # comment kinds: 0 plain, 1 quoted with delimiter, 2 quoted empty,
    # 3 unquoted empty, 4 missing field (short ragged row), 5 plain plus an
    # extra field (long ragged row)
    ckind = _exact(rng, n_rows, {4: RAGGED_SHORT, 2: QUOTED_EMPTY, 3: UNQUOTED_EMPTY,
                                 1: QUOTED_COMMA, 5: RAGGED_LONG})
    ckind[ckind == -1] = 0
    long_row = ckind == 5
    vocab = _words(rng, 500, np.array(list("abcdefghijklmnopqrstuvwxyz")), 3, 9)
    cw = rng.integers(0, len(vocab), (n_rows, 16))

    lines = [",".join(LINEITEM_COLS)]
    for i in range(n_rows):
        m = SHIP_MODES[mode[i]]
        w = cw[i]
        k = ckind[i]
        if k in (0, 5):
            comment = " ".join(vocab[j] for j in w)
        elif k == 1:
            comment = f'"{vocab[w[0]]}, {vocab[w[1]]} ""{vocab[w[2]]}"" {vocab[w[3]]}"'
        elif k == 2:
            comment = '""'
        else:
            comment = ""
        c = cents[i]
        row = (
            f"{okey[i]},{lnum[i]},{pkey[i]},{qty[i]},{c // 100}.{c % 100:02d},"
            f"0.{disc[i]:02d},0.{tax[i]:02d},{rflag[i]},{lstat[i]},{dates[i]},"
            + (f'"{m}"' if "," in m else m)
        )
        if k != 4:
            row += "," + comment
            if long_row[i]:
                row += ",overflow"
        lines.append(row)
    with open(os.path.join(out_dir, "lineitem.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")

    ocust = rng.integers(1, 15_001, n_orders)
    ostat = rng.choice(np.array(["F", "O", "P"]), n_orders)
    ocents = rng.integers(1_000, 50_000_000, n_orders)
    oday = rng.integers(0, 2557, n_orders)
    odate = (np.datetime64("1992-01-01") + oday).astype(str)
    oprio = rng.integers(0, len(PRIORITIES), n_orders)
    olines = ["o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority"]
    for k in range(n_orders):
        olines.append(
            f"{k + 1},{ocust[k]},{ostat[k]},{ocents[k] // 100}.{ocents[k] % 100:02d},"
            f"{odate[k]},{PRIORITIES[oprio[k]]}"
        )
    with open(os.path.join(out_dir, "orders.csv"), "w") as f:
        f.write("\n".join(olines) + "\n")

    # query: filter -> join orders -> group (priority, returnflag)
    keep = (qty >= 10) & (np.array(SHIP_MODES)[mode] != "RAIL")
    prio = oprio[okey - 1]
    groups: dict = {}
    for p, r, q in zip(prio[keep], rflag[keep], qty[keep]):
        g = groups.setdefault((PRIORITIES[p], str(r)), [0, 0])
        g[0] += 1
        g[1] += int(q)
    prices = np.sort(cents) / 100.0  # "%d.%02d" parses to the same double
    h = n_rows // 2
    median = float(prices[h]) if n_rows % 2 else float(
        prices[h - 1] + (prices[h] - prices[h - 1]) * 0.5
    )
    return {
        "bytes": os.path.getsize(os.path.join(out_dir, "lineitem.csv")),
        "rows": n_rows,
        "sum_qty": int(qty.sum()),
        "sum_price": str(Decimal(int(cents.sum())) / 100),
        "comment_null": int(((ckind == 3) | (ckind == 4)).sum()),
        "comment_empty": int((ckind == 2).sum()),
        "extra_rows": int(long_row.sum()),
        "query": sorted([k[0], k[1], v[0], v[1]] for k, v in groups.items()),
        "joined_rows": int(keep.sum()),
        "median_price": median,
        "stats": {
            "l_quantity": [n_rows, 0, int(len(np.unique(qty))), 1.0, 50.0],
            "l_discount": [n_rows, 0, int(len(np.unique(disc))),
                           float(disc.min()) / 100, float(disc.max()) / 100],
            "l_shipmode": [n_rows, 0, int(len(np.unique(mode))), None, None],
        },
    }


# -- text_dedup --------------------------------------------------------------


def text_dedup(out_dir: str, seed: int, n_docs: int) -> dict:
    """corpus/ parquet (doc_id, text) with planted near-duplicate clusters."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    latin = np.array(_words(rng, 20_000, np.array(list("abcdefghijklmnopqrstuvwxyz")), 3, 10))
    cjk = np.array([chr(c) for c in range(0x4E00, 0xA000)])
    wide = np.array(_words(rng, 20_000, cjk, 1, 3))
    n_copies = int(round(PLANTED_SHARE * n_docs))
    n_base = n_docs - n_copies
    # clusters take 1, 2, 3, 1, 2, 3, ... copies; WIDE_SHARE of the base
    # documents and of the clusters are wide, so every seed does equal work
    per_cluster: list[int] = []
    while sum(per_cluster) < n_copies:
        per_cluster.append(min(1 + len(per_cluster) % 3, n_copies - sum(per_cluster)))
    wide_doc = _exact(rng, n_base, {1: WIDE_SHARE}) == 1
    lengths = rng.permutation(40 + np.arange(n_base) % 31)
    docs: list[list[str]] = []
    for j in range(n_base):
        voc = wide if wide_doc[j] else latin
        docs.append(list(voc[rng.integers(0, len(voc), int(lengths[j]))]))
    n_wide = int(round(WIDE_SHARE * len(per_cluster)))
    bases = np.concatenate([
        rng.choice(np.flatnonzero(wide_doc), n_wide, replace=False),
        rng.choice(np.flatnonzero(~wide_doc), len(per_cluster) - n_wide, replace=False),
    ])
    members: dict[int, list[int]] = {}
    for b, k in zip(bases, per_cluster):
        b = int(b)
        members[b] = [b]
        voc = wide if wide_doc[b] else latin
        for _ in range(k):
            words = list(docs[b])
            words[int(rng.integers(0, len(words)))] = voc[rng.integers(0, len(voc))]
            members[b].append(len(docs))
            docs.append(words)
    order = rng.permutation(len(docs))  # doc_id of document order[i] is i
    doc_id = np.empty(len(docs), np.int64)
    doc_id[order] = np.arange(len(docs))
    texts = [" ".join(docs[j]) for j in order]
    clusters = sorted(sorted(int(doc_id[m]) for m in ms) for ms in members.values())

    os.makedirs(os.path.join(out_dir, "corpus"))
    n_files = 8
    for f in range(n_files):
        sl = slice(f, None, n_files)
        pq.write_table(
            pa.table({"doc_id": pa.array(np.arange(len(texts))[sl], pa.int64()),
                      "text": pa.array(texts[sl], pa.string())}),
            os.path.join(out_dir, "corpus", f"part-{f:02d}.parquet"),
        )
    return {
        "docs": len(texts),
        "bytes": sum(len(t.encode("utf-8")) for t in texts),
        "clusters": clusters,
        "kept": len(texts) - sum(len(c) - 1 for c in clusters),
    }


# -- media_decode ------------------------------------------------------------


def _png_filtered(px: np.ndarray) -> bytes:
    """8-bit RGB PNG whose scanlines cycle through filter types 0..4."""
    import struct

    h, w, ch = px.shape
    img = px.reshape(h, w * ch).astype(np.int32)
    raw = bytearray()
    for y in range(h):
        ftype = y % 5
        line = img[y]
        up = img[y - 1] if y else np.zeros_like(line)
        left = np.concatenate([np.zeros(ch, np.int32), line[:-ch]])
        upleft = np.concatenate([np.zeros(ch, np.int32), up[:-ch]])
        if ftype == 0:
            pred = np.zeros_like(line)
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) // 2
        else:
            p = left + up - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
        raw.append(ftype)
        raw += ((line - pred) & 0xFF).astype(np.uint8).tobytes()

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def dhash64(px: np.ndarray, grid: tuple = (9, 8)) -> int:
    """dHash restated from its definition (nearest sample onto a 9x8 gray
    raster, gray = (B+G+R)//3, bit set when the right neighbour is
    brighter, LSB-first, as a signed int64)."""
    gx, gy = grid
    h, w = px.shape[:2]
    xs = ((2 * np.arange(gx) + 1) * w) // (2 * gx)
    ys = ((2 * np.arange(gy) + 1) * h) // (2 * gy)
    g = px[ys][:, xs].astype(np.int64).sum(axis=2) // 3
    bits = (g[:, 1:] > g[:, :-1]).reshape(-1)
    val = int(sum(1 << k for k in np.flatnonzero(bits)))
    return val - (1 << 64) if val >= 1 << 63 else val


def media_decode(out_dir: str, seed: int, divisor: int) -> dict:
    """media/<format>/ parquet (doc_id, payload) per format, plus the pixel
    sums and the dHash pair set the outputs must match."""
    rng = np.random.default_rng(seed)
    expect: dict = {"formats": {}}
    next_id = 0
    for fmt in FORMATS:
        pixels = _media_pixels(fmt, rng, max(1, IMAGES[fmt] // divisor))
        payloads = [_encode(fmt, px) for px in pixels]
        if fmt != "bmp":
            pixels = [p for p in pixels for _ in range(REPEAT)]
            payloads = [b for b in payloads for _ in range(REPEAT)]
        ids = list(range(next_id, next_id + len(pixels)))
        next_id += len(pixels)
        expect["formats"][fmt] = _media_table(out_dir, fmt, ids, pixels, payloads)
        if fmt == "bmp":
            expect["dhash_pairs"] = _dhash_pairs(ids, pixels)
    return expect


def _media_pixels(fmt: str, rng, n: int) -> list:
    pixels = []
    n_twins = int(round(TWIN_SHARE * n)) if fmt == "bmp" else 0
    # dims in blocks (JPEG) or pixels (PNG, BMP)
    lo, hi = {"jpeg444": (6, 14), "jpeg420": (3, 7), "jpeg_progressive": (3, 7),
              "png": (32, 72), "bmp": (24, 64)}[fmt]
    for h, w in _dims(rng, n - n_twins, lo, hi):
        if fmt == "jpeg444":
            blocks = rng.integers(0, 256, (h, w))
            g = np.repeat(np.repeat(blocks, 8, 0), 8, 1).astype(np.uint8)
            px = np.stack([g, g, g], axis=-1)
        elif fmt in ("jpeg420", "jpeg_progressive"):
            blocks = rng.integers(0, 256, (h, w))
            g = np.repeat(np.repeat(blocks, 16, 0), 16, 1).astype(np.uint8)
            px = np.stack([g, g, g], axis=-1)
        elif fmt == "png":
            px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        else:  # textured BMP, values < 200 so twins never saturate
            base = rng.integers(0, 200, (h // 4 + 1, w // 4 + 1, 3))
            tex = rng.integers(0, 24, (h, w, 3))
            px = np.minimum(np.repeat(np.repeat(base, 4, 0), 4, 1)[:h, :w] + tex, 199)
            px = px.astype(np.uint8)
        pixels.append(px)
    for src in rng.choice(n - n_twins, n_twins, replace=False):
        src = pixels[int(src)]
        pixels.append((src.astype(np.int64) + int(rng.integers(1, 57))).astype(np.uint8))
    return pixels


def _encode(fmt: str, px: np.ndarray) -> bytes:
    from bun_csv_spark.multimodal.binary import (
        make_bmp_payload,
        make_jpeg_color_payload,
        make_jpeg_progressive_payload,
    )

    h, w = px.shape[:2]
    if fmt == "jpeg444":
        return make_jpeg_color_payload(w, h, px.tobytes(), subsampling="444")
    if fmt == "jpeg420":
        return make_jpeg_color_payload(w, h, px.tobytes(), subsampling="420")
    if fmt == "jpeg_progressive":
        return make_jpeg_progressive_payload(w, h, px.tobytes(), subsampling="420")
    if fmt == "png":
        return _png_filtered(px)
    return make_bmp_payload(w, h, px.tobytes())


def _media_table(out_dir: str, fmt: str, ids: list, pixels: list, payloads: list) -> dict:
    """Writes the format's payload table; returns its expected totals."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(out_dir, "media", fmt)
    os.makedirs(d)
    for f in range(4):
        pq.write_table(
            pa.table({"doc_id": pa.array(ids[f::4], pa.int64()),
                      "payload": pa.array(payloads[f::4], pa.binary())}),
            os.path.join(d, f"part-{f}.parquet"),
        )
    sums = np.array([p.reshape(-1, 3).sum(axis=0, dtype=np.int64) for p in pixels])
    weights = np.array([i % 1009 for i in ids], np.int64)
    return {
        "images": len(ids),
        "pixels": int(sum(p.shape[0] * p.shape[1] for p in pixels)),
        "bytes": int(sum(len(b) for b in payloads)),
        "sums": [int(s) for s in sums.sum(axis=0)],
        "weighted": [int(s) for s in (sums * weights[:, None]).sum(axis=0)],
    }


def _dhash_pairs(ids: list, pixels: list) -> list:
    """Every pair within MAX_HAMMING, by brute force over restated hashes."""
    hashes = np.array([dhash64(p) for p in pixels], np.int64).view(np.uint64)
    pairs = []
    for a in range(len(ids)):
        dist = [bin(int(v)).count("1") for v in hashes[a] ^ hashes[a + 1:]]
        pairs += [[ids[a], ids[a + 1 + j], d] for j, d in enumerate(dist) if d <= MAX_HAMMING]
    return sorted(pairs)


GENERATORS = {
    "csv_etl": (csv_etl, "csv_rows"),
    "text_dedup": (text_dedup, "docs"),
    "media_decode": (media_decode, "image_divisor"),
}


KEEP = 3  # input sets cached per workload and size
# the generators' own source and the library encoders the media generator
# calls: a change to either must not reuse inputs made by the old code
_SOURCES = (
    os.path.abspath(__file__),
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "bun_csv_spark", "multimodal", "binary.py"),
)


def _digest() -> str:
    h = hashlib.sha256()
    for path in _SOURCES:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def prepare(root: str, workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of ``workload`` at ``seed``.

    Returns (input_dir, expectations). A cached set is reused only if it
    was made by the same generator and encoder source. At most ``KEEP``
    input sets per workload and size stay cached under ``root``."""
    fn, key = GENERATORS[workload]
    name = f"{workload}-{size}-{seed}-{_digest()}"
    final = os.path.join(root, name)
    manifest = os.path.join(final, "expect.json")
    if os.path.exists(manifest):
        os.utime(final)
        with open(manifest) as f:
            return final, json.load(f)
    os.makedirs(root, exist_ok=True)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expect = fn(tmp, seed, SIZES[size][key])
    with open(os.path.join(tmp, "expect.json"), "w") as f:
        json.dump(expect, f)
    os.replace(tmp, final)
    siblings = sorted(
        (os.path.join(root, d) for d in os.listdir(root)
         if d.startswith(f"{workload}-{size}-") and not d.endswith(".tmp")),
        key=os.path.getmtime,
    )
    for old in siblings[:-KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return final, expect
