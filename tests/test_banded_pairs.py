"""Laws of the one banded-pair emitter, ``_banded_pairs``.

  * Its two shapes agree: the capped groupBy-collect combination explode
    emits exactly the pairs the keyed self-join emits over the same
    capped table, carry columns included.
  * Every banded operator (MinHash LSH, Hamming, embedding LSH) returns
    the same output capped as with ``max_bucket=None`` when no bucket is
    over the cap — also when an id repeats in a bucket, which once made
    the capped MinHash path emit the self-pair (x, x).
"""

from __future__ import annotations

import random

import pytest

from bun_csv_spark.operators.dedup import (
    _banded_pairs,
    _cap_buckets,
    hamming_pairs64,
    neardup_pairs_embedding,
    neardup_pairs_minhash,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("carry", [None, "fp"])
def test_collect_shape_equals_self_join_over_capped_table(spark, carry):
    rng = random.Random(7)
    # small id and bucket ranges: ids repeat inside buckets, some with a
    # different fingerprint, and a few buckets go over the cap of 4
    rows = [
        (rng.randrange(12), rng.randrange(3), f"k{rng.randrange(6)}", rng.randrange(3))
        for _ in range(80)
    ]
    banded = spark.createDataFrame(rows, "id long, band int, bucket string, fp long")
    if carry is None:
        banded = banded.drop("fp")
    collected = _rows(_banded_pairs(banded, "id", 4, carry))
    joined = _rows(_banded_pairs(_cap_buckets(banded, 4), "id", None, carry))
    assert collected == joined and collected
    assert all(r[0] < r[1] for r in collected)
    assert len(set(collected)) == len(collected)


def _minhash(spark, cap):
    t = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [(1, t), (1, t), (2, t + " x")], "doc_id long, text string"
    )
    return neardup_pairs_minhash(df, "doc_id", "text", max_bucket=cap)


def _hamming(spark, cap):
    h = 0x1234_5678_9ABC_DEF0
    df = spark.createDataFrame(
        [(1, h), (1, h), (1, h ^ 0b10), (2, h ^ 1), (3, -42)], "doc_id long, h long"
    )
    return hamming_pairs64(df, "doc_id", "h", max_hamming=6, max_bucket=cap)


def _embedding(spark, cap):
    v = [0.3, -0.2, 0.9, 0.1, -0.5, 0.4, 0.05, -0.7]
    df = spark.createDataFrame(
        [(1, v), (1, v), (2, [x + 0.01 for x in v]), (3, [-x for x in v])],
        "vec_id long, embedding array<double>",
    )
    return neardup_pairs_embedding(
        df, "vec_id", "embedding", dim=8, threshold=0.5, bands=4, n_planes=3,
        max_bucket=cap,
    )


@pytest.mark.parametrize("op", [_minhash, _hamming, _embedding])
def test_capped_equals_uncapped_with_duplicated_id(spark, op):
    capped = _rows(op(spark, 64))
    assert capped == _rows(op(spark, None))
    assert capped and all(r[0] < r[1] for r in capped)
