"""Batched bit-parallel Levenshtein (Myers 1999) over packed Python ints —
the per-task kernel for exact edit-distance verification.

Why not the built-in ``F.levenshtein``: the JVM expression computes the
full O(m·n) DP matrix per pair — at the neardup_editdist gate's sf0.1
workload (156k LSH candidate pairs × ~304² chars ≈ 1.4e10 DP cells) that
is ~6.7 s across 32 cores. Myers' algorithm advances a whole DP column
per step with a handful of bit operations on the column's vertical
deltas, and this implementation advances every pair of a sub-batch in
the same step: only (text_a, text_b, lev) cross the Python boundary
(guide §4.2 "hand whole batches to vectorized native code").

EXACTNESS: Myers computes the true unrestricted Levenshtein distance (no
band, no threshold cutoff) — it is the same number the DP produces, and
the DuckDB gate oracle plus the law tests in tests/test_round19_ops.py
(against ``F.levenshtein`` itself over unicode/empty/64-boundary cases,
sub-batch edges and a 20k-code-point batch) pin the equality. Distances
are computed on Unicode CODE POINTS (utf-32 decode), matching
UTF8String.levenshteinDistance.

Packed design. The distance is symmetric, so the longer string of a pair
is the pattern and the shorter one the text: a pair takes min(|a|, |b|)
steps. Each state vector (``pv``, ``mv``, ``eq`` and the temporaries) is
ONE Python int holding one slot of ``words·64`` bits per pair, so
CPython's bigint add carries across 64-bit words inside a slot. One step
costs 16 bigint ops on the whole sub-batch plus one numpy gather and
``int.from_bytes``, whatever the pair count. In a slot the pattern sits
at bits ``[L - m_p, L)`` with ``L = max m + 1``: the bits below it keep
``pv = mv = 0``, so the horizontal delta shifted into the pattern's
first bit is the +1 of the DP's top row, and bit ``L`` takes the add's
carry. Pairs are sorted by text length, longest first, so the live pairs
of a step are a low prefix of slots; when a pair's text ends, its slot
is read out (distance = n + popcount(pv) - popcount(mv): the vertical
deltas summed down the last column) and every state int is cut to the
live prefix.

Memory. Each pair has its own compact alphabet: the pattern's distinct
code points map to rows ``1..A_p`` and a text character absent from the
pattern maps to the all-zero row 0. The ``(P, A, words)`` match table of
a sub-batch is capped at ``_TABLE_BYTES`` and ``P`` at ``_MAX_PAIRS``, so
a task's memory is bounded whatever the script of the corpus. A single
pair whose own table exceeds the budget runs alone; its table is at most
``(m+1)·words·8``, about m²/8 bytes (1.5 MB at m = 3.5k). Everything
else is linear in the batch's characters. The work is still O(n·m/64) word
operations per pair, as for any bit-parallel DP.

Timing, one core of a 4-core x86_64 box, best of 5 (3 for 10k pairs),
synthetic near-duplicate pairs of ~300 word-like characters unless
noted; the numpy word-loop kernel this replaced in parentheses: 3 pairs
0.002 s (0.065), 52 pairs 0.009 s (0.071), 1,000 pairs 0.13 s (0.16),
10k pairs 0.95 s (1.70), 100 pairs of ~3.5k characters 0.55 s (8.94).
The old kernel paid O(max n · words) numpy calls per batch whatever the
pair count, so small batches paid the most. Without the 1,024-pair cap,
10k pairs took 1.44 s: the bigints outgrow the cache."""

# NOTE: no `from __future__ import annotations` here — pandas_udf infers
# the eval type from the RUNTIME annotations of the wrapped function, and
# PEP-563 stringized hints ('pd.Series') are not resolved by that path.
import numpy as np
import pandas as pd

_TABLE_BYTES = 32 << 20  # cap on one sub-batch's (P, A, words) match table
_MAX_PAIRS = 1024  # slots per sub-batch: keeps each bigint cache-sized
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def _code_points(strings):
    """One flat uint32 array of every string's code points, in order."""
    return np.frombuffer("".join(strings).encode("utf-32-le"), dtype=np.uint32)


def batched_levenshtein(as_, bs):
    """Exact Levenshtein distance per (as_[i], bs[i]) pair as int64."""
    n_pairs = len(as_)
    out = np.zeros(n_pairs, dtype=np.int64)
    la = np.fromiter(map(len, as_), np.int64, n_pairs)
    lb = np.fromiter(map(len, bs), np.int64, n_pairs)
    m, n = np.maximum(la, lb), np.minimum(la, lb)
    out[n == 0] = m[n == 0]
    live = np.flatnonzero(n > 0)
    if live.size == 0:
        return out
    # longest pattern first: a sub-batch's slot width is set by its first pair
    order = live[np.argsort(-m[live], kind="stable")]
    m, n = m[order], n[order]
    a_first = (la >= lb)[order].tolist()
    order_l = order.tolist()
    pat = _code_points([as_[i] if f else bs[i] for i, f in zip(order_l, a_first)])
    txt = _code_points([bs[i] if f else as_[i] for i, f in zip(order_l, a_first)])
    # per-pair compact alphabet: pattern code points -> rows 1..A_p in
    # order of first appearance (keys are pair-major, so pair p's codes
    # are the contiguous block off_u[p]..off_u[p+1]-1)
    pair_a = np.repeat(np.arange(order.size), m)
    pair_b = np.repeat(np.arange(order.size), n)
    code_a, uniq = pd.factorize((pair_a << 32) | pat)
    key_b = (pair_b << 32) | txt
    alpha = np.bincount(uniq >> 32, minlength=order.size)
    off_u = np.concatenate(([0], np.cumsum(alpha)))
    off_a = np.concatenate(([0], np.cumsum(m)))
    off_b = np.concatenate(([0], np.cumsum(n)))
    row_a = code_a - off_u[pair_a] + 1
    lo = 0
    while lo < order.size:
        # a slot holds the pattern, one dead bit below it, one carry bit above
        words = int(m[lo] + 2 + 63) // 64
        span = alpha[lo: lo + _MAX_PAIRS]
        table = np.arange(1, span.size + 1) * (np.maximum.accumulate(span) + 1) * words * 8
        hi = lo + max(1, int(np.searchsorted(table, _TABLE_BYTES, side="right")))
        b = slice(off_b[lo], off_b[hi])
        # a text character absent from its pair's pattern -> row 0
        hit = pd.Index(uniq[off_u[lo]: off_u[hi]]).get_indexer(key_b[b])
        row_b = np.where(hit >= 0, hit + off_u[lo] - off_u[pair_b[b]] + 1, 0)
        out[order[lo:hi]] = _myers_packed(
            m[lo:hi], n[lo:hi], int(alpha[lo:hi].max()) + 1, words,
            row_a[off_a[lo]: off_a[hi]], row_b,
        )
        lo = hi
    return out


def _myers_packed(m, n, n_rows, words, row_a, row_b):
    """Distances of one sub-batch: pair p has pattern length m[p], text
    length n[p] > 0, and its characters as compact-alphabet rows (pattern
    rows in 1..n_rows-1, text rows 0 where absent from the pattern), both
    concatenated in pair order. Returns int64 distances in pair order."""
    P = m.size
    S = words * 64
    L = int(m.max()) + 1
    # slots are ordered by text length, longest first: the live pairs of
    # step j are slots [0, k) with k = #{n > j}
    by_n = np.argsort(-n, kind="stable")
    slot = np.empty(P, dtype=np.int64)
    slot[by_n] = np.arange(P)
    m_s, n_s = m[by_n], n[by_n]
    # match table: row r of slot s holds the bits of pattern positions
    # whose character is r, as `words` little-endian uint64
    bit = L - np.repeat(m, m) + np.arange(row_a.size) - np.repeat(np.cumsum(m) - m, m)
    peq = np.zeros(P * n_rows * words, dtype=np.uint64)
    np.bitwise_or.at(
        peq, (np.repeat(slot, m) * n_rows + row_a) * words + (bit >> 6),
        np.left_shift(np.uint64(1), (bit & 63).astype(np.uint64)),
    )
    peq = peq.reshape(P * n_rows, words)
    # text rows step-major: step j reads the slice of its k_j live slots
    lives = np.searchsorted(-n_s, -np.arange(int(n_s[0])), side="left")
    starts = np.cumsum(lives) - lives
    pos = np.arange(row_b.size) - np.repeat(np.cumsum(n) - n, n)
    rep_b = np.repeat(slot, n)
    gather = np.empty(row_b.size, dtype=np.int64)
    gather[starts[pos] + rep_b] = rep_b * n_rows + row_b

    def pack(bits):  # (P, S) bool -> one int, slot p at bits [p*S, (p+1)*S)
        return int.from_bytes(np.packbits(bits, axis=1, bitorder="little").tobytes(), "little")

    col = np.arange(S)
    pv = pack((col >= L - m_s[:, None]) & (col < L))
    mv = 0
    vml = pack(np.broadcast_to(col <= L, (P, S)))  # bits [0, L] of each slot
    vmp = pack(np.broadcast_to((col >= 1) & (col < L), (P, S)))  # bits [1, L)
    dist = np.empty(P, dtype=np.int64)

    def read_out(lo, hi, pv, mv):  # distances of slots [lo, hi)
        nb = (hi - lo) * S // 8
        ones = [
            _POPCOUNT8[np.frombuffer((v >> (lo * S)).to_bytes(nb, "little"), np.uint8)]
            .reshape(hi - lo, S // 8).sum(axis=1)
            for v in (pv, mv)
        ]
        dist[lo:hi] = n_s[lo:hi] + ones[0] - ones[1]

    k = P
    for start, live in zip(starts.tolist(), lives.tolist()):
        if live < k:
            read_out(live, k, pv, mv)
            k = live
            cut = (1 << (k * S)) - 1
            pv, mv, vml, vmp = pv & cut, mv & cut, vml & cut, vmp & cut
        eq = int.from_bytes(peq[gather[start: start + k]].tobytes(), "little")
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        # in a slot: below the pattern ph is 1, so the shift carries in
        # the top row's +1; bit L holds the add's carry and is masked off
        ph = (mv | (vml ^ (xh | pv))) << 1
        pv = (((pv & xh) << 1) | (vmp ^ (xv | ph))) & vmp
        mv = ph & xv
    read_out(0, k, pv, mv)
    return dist[slot]


def levenshtein_udf():
    """Arrow-batched (Series, Series) -> Series pandas UDF wrapping
    ``batched_levenshtein``; NULL in either input yields NULL, matching
    ``F.levenshtein``. Built lazily (needs an active session).

    Marked nondeterministic although it is not: that is PySpark's
    documented way to keep the optimizer from duplicating a UDF. Without
    it a filter on ``sim`` is pushed below the projection and the plan
    runs the kernel in two ``ArrowEvalPython`` nodes, once per node."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _lev(a: pd.Series, b: pd.Series) -> pd.Series:
        mask = a.isna() | b.isna()
        if mask.all():
            return pd.Series([None] * len(a), dtype="Int64")
        av = a.fillna("").tolist()
        bv = b.fillna("").tolist()
        vals = batched_levenshtein(av, bv)
        res = pd.Series(vals, dtype="Int64", index=a.index)
        res[mask] = None
        return res

    return _lev.asNondeterministic()
