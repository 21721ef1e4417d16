"""Skew mitigation: salted two-phase aggregation.

At 100 TB a handful of hot keys (one language, one empty-doc fingerprint,
one viral user_id) can pin a whole aggregation on one reducer. Salting
splits each hot key across ``n_salt`` partial groups, aggregates partially,
then merges — the classic two-phase rewrite, expressed declaratively so it
composes with AQE (which handles join-side skew; this handles groupBy-side).

Only algebraic aggregates decompose this way (sum/count/min/max and
anything built from them, e.g. avg = sum/count). Holistic aggregates
(exact median, collect_list order) cannot be salted — use their built-in
forms and let AQE split partitions instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    sums: list[str] | None = None,
    n_salt: int = 16,
    count_alias: str = "n_rows",
    seed: int = 42,
) -> DataFrame:
    """Two-phase skew-safe groupBy: per key, row count plus sum of each
    column in ``sums``. Output columns: keys + count_alias + sum_<col>.

    The salt is seeded rand() — any distribution works for correctness
    (phase 2 merges all salt groups); uniformity only affects balance."""
    sums = sums or []
    salt = F.floor(F.rand(seed) * n_salt).alias("__salt")
    phase1 = df.groupBy(*keys, salt).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(c).alias(f"__s_{c}") for c in sums],
    )
    return phase1.groupBy(*keys).agg(
        F.sum("__n").alias(count_alias),
        *[F.sum(f"__s_{c}").alias(f"sum_{c}") for c in sums],
    )
