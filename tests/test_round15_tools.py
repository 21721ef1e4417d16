"""Round-15 tool laws: the deep-store A/B's synthetic history must
track the real generator (the 'honest pre-grown store' premise).

tools/ab_bloom_deepstore.py duplicates two facts about
tools/ab_bloom_highentropy.day_docs_highentropy instead of importing
them (they are interior expressions of the generator): (1) which
within-day ids belong to RECURRING blocks, and (2) that a recurring
doc's text — hence its banding — is identical on every day. If the
generator drifts, the pre-grown store silently stops matching a
replayed one; these laws pin both facts against the generator itself.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import spark  # noqa: F401
from tools.ab_bloom_deepstore import _recurring_pred
from tools.ab_bloom_highentropy import day_docs_highentropy

N = 5000  # 200 blocks — enough for ~10 recurring blocks at 1-in-20


def test_recurring_pred_matches_generator_text_identity(spark):
    """_recurring_pred(i) must select EXACTLY the ids whose generated
    text is day-invariant (recurring blocks are the only seed-0 docs,
    and only seed-0 text can repeat across days)."""
    d3 = day_docs_highentropy(spark, 3, N).select(
        (F.col("doc_id") - 3 * N).alias("i"), F.col("text").alias("t3")
    )
    d7 = day_docs_highentropy(spark, 7, N).select(
        (F.col("doc_id") - 7 * N).alias("i"), F.col("text").alias("t7")
    )
    joined = d3.join(d7, "i").withColumn(
        "pred", _recurring_pred(F.col("i"))
    )
    rows = joined.select(
        "i", "pred", (F.col("t3") == F.col("t7")).alias("same")
    ).collect()
    assert len(rows) == N
    mism = [r for r in rows if bool(r["pred"]) != bool(r["same"])]
    assert not mism, f"{len(mism)} ids diverge, first: {mism[:3]}"
    n_rec = sum(1 for r in rows if r["pred"])
    assert 0 < n_rec < N  # both classes present — the law is non-vacuous


def test_synth_recurring_rows_match_real_banding_any_day(spark):
    """The pre-grown store replicates ONE real banding of the recurring
    subset across all days with day-shifted doc_ids. Law: banding a
    DIFFERENT day's docs for real and restricting to recurring ids
    yields exactly the replicated rows (bucket-for-bucket)."""
    from bun_csv_spark.operators.dedup import _band_buckets
    from tools.ab_bloom_deepstore import PARAMS, real_recurring_rows, synth_day_rows

    rec = real_recurring_rows(spark, N)
    day = 5
    synth = (
        synth_day_rows(spark, day, N, rec)
        .filter(_recurring_pred(F.col("doc_id") - day * N))
        .select("doc_id", "band", "bucket")
    )
    real = _band_buckets(
        day_docs_highentropy(spark, day, N).filter(
            _recurring_pred(F.col("doc_id") - day * N)
        ),
        "doc_id", "text", PARAMS["n_hashes"], PARAMS["bands"],
        PARAMS["shingle_k"], None,
    ).select("doc_id", "band", "bucket")
    got = sorted(map(tuple, synth.collect()))
    want = sorted(map(tuple, real.collect()))
    assert got == want and len(got) > 0
    rec.unpersist()
