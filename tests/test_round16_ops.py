"""Round-16: narrow (xxhash64) band-store bucket encoding laws.

The year-deep incremental near-dup fold is store-SCAN-dominated
(SCALE.md r15: ~0.28 s/M store rows with the prune on), so the named
remaining lever is bytes per store row: an 8-byte long bucket instead
of the 32-char md5 hex string. The encoding is an identity stand-in
for the band's minhash vector — two docs share a bucket iff their band
columns are equal — so the emitted pairs must be IDENTICAL under
either encoding. These tests pin that law, the store-marker pin that
refuses mixed-encoding folds, and bloom-prune equality on the narrow
layout.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bun_csv_spark.operators.dedup import incremental_neardup_update


def _docs(spark):
    """Planted near-dups: base docs + lightly-perturbed copies (the
    test_round11_ops corpus shape)."""
    base = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox number "),
            (F.col("id") % 9).cast("string"),
            F.lit(" jumps over the lazy dog again and again"),
        ).alias("text"),
    )
    perturbed = base.select(
        (F.col("doc_id") + 100).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the end")).alias("text"),
    )
    return base.unionAll(perturbed)


def _fold_days(spark, docs, store, **kw):
    got = []
    for d in range(3):
        pairs = incremental_neardup_update(
            spark, docs.filter(F.col("doc_id") % 3 == d), store, d, **kw
        )
        got += [(d, r["id_a"], r["id_b"]) for r in pairs.collect()]
    return got


def test_xxhash64_encoding_emits_identical_pairs(spark, tmp_path):
    """The equality law: day-by-day folds against an md5 store and an
    xxhash64 store emit the SAME (day, id_a, id_b) set — the bucket is
    an identity digest of the band vector, so any injective encoding
    produces the same collisions."""
    docs = _docs(spark)
    md5_pairs = _fold_days(spark, docs, str(tmp_path / "s_md5"))
    xx_pairs = _fold_days(
        spark, docs, str(tmp_path / "s_xx"), bucket_encoding="xxhash64"
    )
    assert sorted(md5_pairs) == sorted(xx_pairs)
    assert len(xx_pairs) > 0  # the planted near-dups really collide


def test_xxhash64_store_layout_is_narrow(spark, tmp_path):
    """The narrow layout really lands longs on disk (the point of the
    encoding: ~3x fewer scan bytes per store row)."""
    docs = _docs(spark)
    store = str(tmp_path / "s_xx")
    incremental_neardup_update(
        spark, docs, store, 0, bucket_encoding="xxhash64"
    ).collect()
    stored = spark.read.parquet(f"{store}/day=0")
    assert dict(stored.dtypes)["bucket"] == "bigint"
    md5_store = str(tmp_path / "s_md5")
    incremental_neardup_update(spark, docs, md5_store, 0).collect()
    assert dict(spark.read.parquet(f"{md5_store}/day=0").dtypes)[
        "bucket"
    ] == "string"


def test_mixed_encoding_fold_raises(spark, tmp_path):
    """An xxhash64 store must refuse an md5 fold and vice versa —
    mixed-encoding buckets would silently never join (the _PARAMS
    marker discipline extended to the encoding)."""
    docs = _docs(spark)
    xx_store = str(tmp_path / "s_xx")
    incremental_neardup_update(
        spark, docs, xx_store, 0, bucket_encoding="xxhash64"
    ).collect()
    with pytest.raises(ValueError, match="incomparable"):
        incremental_neardup_update(spark, docs, xx_store, 1)
    md5_store = str(tmp_path / "s_md5")
    incremental_neardup_update(spark, docs, md5_store, 0).collect()
    with pytest.raises(ValueError, match="incomparable"):
        incremental_neardup_update(
            spark, docs, md5_store, 1, bucket_encoding="xxhash64"
        )


def test_unknown_encoding_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="bucket_encoding"):
        incremental_neardup_update(
            spark, _docs(spark), str(tmp_path / "s"), 0,
            bucket_encoding="sha1",
        )


def test_bloom_prune_bit_identical_on_narrow_layout(spark, tmp_path):
    """The bloom store-side prune stays bit-identical on the xxhash64
    layout (the bk concat casts the long bucket; no false negatives by
    construction)."""
    docs = _docs(spark)
    plain = _fold_days(
        spark, docs, str(tmp_path / "s_plain"), bucket_encoding="xxhash64"
    )
    pruned = _fold_days(
        spark,
        docs,
        str(tmp_path / "s_pruned"),
        bucket_encoding="xxhash64",
        bloom_bits=1 << 14,
    )
    assert sorted(plain) == sorted(pruned)
