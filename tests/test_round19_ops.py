"""Round-19 (optimization round 2): law tests for the scale-correctness
fixes that accompany this round's optimizations.

  * `ensure_parallelism` remote-scheme hole (VERDICT r18 #1): non-`file:`
    input paths used to be silently excluded from the size sum, so an
    s3://... scan read as 0 bytes — "small" — and the helper would
    full-shuffle an arbitrarily large remote input. Unknown scheme must
    now be a no-op (the plan is returned unchanged).
  * `_stream_state_partitions` walks only DATA files: writer artifacts
    (_SUCCESS, .crc, _spark_metadata) no longer inflate the estimate.
  * `connected_components` warns when max_iter is exhausted before the
    fixpoint instead of silently returning partial labels.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bun_csv_spark.operators.util import _local_input_bytes, ensure_parallelism


class _FakeDF:
    """Just enough surface for the sizing decision: inputFiles()."""

    def __init__(self, files):
        self._files = files

    def inputFiles(self):
        return list(self._files)


# --- ensure_parallelism remote-scheme no-op (VERDICT r18 #1) -------------


def test_local_input_bytes_remote_scheme_is_unknown():
    assert _local_input_bytes(_FakeDF(["s3://bucket/part-0.parquet"])) is None
    assert _local_input_bytes(_FakeDF(["hdfs://nn/warehouse/p0.parquet"])) is None


def test_local_input_bytes_mixed_schemes_is_unknown(tmp_path):
    p = tmp_path / "local.parquet"
    p.write_bytes(b"x" * 100)
    assert (
        _local_input_bytes(_FakeDF([f"file:{p}", "s3://bucket/p1.parquet"]))
        is None
    )


def test_local_input_bytes_empty_is_unknown():
    assert _local_input_bytes(_FakeDF([])) is None


def test_local_input_bytes_sums_local_files(tmp_path):
    a = tmp_path / "a.parquet"
    b = tmp_path / "b.parquet"
    a.write_bytes(b"x" * 100)
    b.write_bytes(b"y" * 28)
    assert _local_input_bytes(_FakeDF([f"file:{a}", f"file:{b}"])) == 128


def test_ensure_parallelism_remote_scheme_returns_plan_unchanged():
    """The 100 TB regression this pins: an unstattable (remote) scan must
    NEVER be repartitioned on the strength of a zero size estimate."""
    df = _FakeDF(["s3://bucket/huge/part-00000.parquet"])
    assert ensure_parallelism(df) is df
    assert ensure_parallelism(df, key="doc_id") is df


def test_ensure_parallelism_stat_error_returns_plan_unchanged(tmp_path):
    df = _FakeDF([f"file:{tmp_path}/does_not_exist.parquet"])
    assert ensure_parallelism(df) is df


# --- stream state sizing ignores writer artifacts ------------------------


def test_stream_state_partitions_ignores_metadata_files(
    spark, tmp_path, monkeypatch
):
    """_SUCCESS, .crc files and _spark_metadata/ must not inflate the
    source-size estimate: fake them huge and assert the floor holds."""
    import os

    from bun_csv_spark.streaming.windows import _stream_state_partitions

    src = tmp_path / "src"
    meta = src / "_spark_metadata"
    meta.mkdir(parents=True)
    (src / "part-0.parquet").write_bytes(b"x" * 1024)
    (src / "_SUCCESS").write_bytes(b"")
    (src / ".part-0.parquet.crc").write_bytes(b"c" * 16)
    (meta / "0.compact").write_bytes(b"m" * 16)

    real_getsize = os.path.getsize
    huge = {str(src / "_SUCCESS"), str(src / ".part-0.parquet.crc"), str(meta / "0.compact")}
    monkeypatch.setattr(
        os.path,
        "getsize",
        lambda p: 64 * 1024**3 if str(p) in huge else real_getsize(p),
    )
    # 1 KiB of real data -> the floor of 8, no matter how big the artifacts
    assert _stream_state_partitions(spark, str(src)) == 8


# --- distributed exact median (VERDICT r18 #2) ---------------------------


def _median_cases():
    import math

    ulp = math.ulp(1.0)
    return [
        [],  # empty -> 0.0 (reference coalesce rule)
        [5.0],
        [1.0, 2.0],  # even: midpoint
        [3.0, 1.0, 2.0],
        [1.0, 2.0, 3.0, 4.0],
        [2.0] * 9,  # all equal
        [1.0, 1.0, 2.0, 2.0],  # midpoint across a duplicate boundary
        [-5.0, -1.0, 0.0, 7.5, 100.25],
        [0.017, 0.018],  # sub-integer spacing
        [1.0, 1.0 + ulp, 1.0 + 2 * ulp, 1.0 + 3 * ulp],  # sliver fallback
        [float(x % 97) * 0.25 - 12.0 for x in range(1001)],
        [float(x % 96) * 0.25 - 12.0 for x in range(1000)],
        [-1.7e308, 1.7e308, 0.0],  # range that overflows (b - a)
    ]


@pytest.mark.parametrize("vals", _median_cases())
def test_exact_median_distributed_matches_f_median(spark, vals):
    from pyspark.sql import functions as F

    from bun_csv_spark.operators.aggregates import exact_median_distributed

    df = spark.createDataFrame([(v,) for v in vals] or [(None,)], "v double")
    if not vals:
        df = df.filter("v is not null")
    got = exact_median_distributed(df, "v", buckets=16)  # small: force descent
    want_row = df.agg(
        F.coalesce(F.median(F.col("v").try_cast("double")), F.lit(0.0))
    ).first()
    want = want_row[0]
    assert got == want, (got, want, vals)


def test_exact_median_distributed_infinities(spark):
    from pyspark.sql import functions as F

    from bun_csv_spark.operators.aggregates import exact_median_distributed

    inf = float("inf")
    for vals in ([-inf, -inf, 1.0], [1.0, inf, inf], [-inf, 2.0, 4.0, inf]):
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = exact_median_distributed(df, "v", buckets=16)
        want = df.agg(F.median("v")).first()[0]
        assert got == want, (got, want, vals)


# --- incremental_neardup fold pipelining (VERDICT r18 #5) -----------------


def test_fold_days_matches_sequential_updates(spark, tmp_path):
    """Store-visibility law: the overlapped-commit fold emits, day by
    day, EXACTLY the pair sets of sequential incremental_neardup_update
    calls — before_day scoping (not commit order) defines each day's
    history, so future-day partitions present at listing time change
    nothing."""
    from bun_csv_spark.operators.dedup import (
        incremental_neardup_fold_days,
        incremental_neardup_update,
    )

    docs = spark.createDataFrame(
        [
            (i, f"the quick brown fox jumps over the lazy dog variant {i % 4} "
                f"pad {'x' * (i % 3)}")
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    kw = dict(n_hashes=8, bands=4, shingle_k=5, max_bucket=64)

    seq_store = str(tmp_path / "seq")
    seq = [
        sorted(
            map(
                tuple,
                incremental_neardup_update(
                    spark, docs.filter(F.col("doc_id") % 3 == d),
                    seq_store, d, **kw,
                ).collect(),
            )
        )
        for d in range(3)
    ]

    fold_store = str(tmp_path / "fold")
    fold = [
        sorted(map(tuple, p.collect()))
        for p in incremental_neardup_fold_days(
            spark,
            [(d, docs.filter(F.col("doc_id") % 3 == d)) for d in range(3)],
            fold_store,
            **kw,
        )
    ]
    assert fold == seq
    # at least one cross-day pair, or the law is vacuous
    assert any(len(day) > 0 for day in seq[1:])


def test_day_pairs_ignore_future_partitions(spark, tmp_path):
    """Deriving day 1's pairs AFTER day 2 is already committed (the
    re-run / concurrent-commit scenario) must not leak day-2 history in."""
    from bun_csv_spark.operators.dedup import incremental_neardup_update

    docs = spark.createDataFrame(
        [(i, f"shared prefix text body number {i % 2}") for i in range(12)],
        "doc_id long, text string",
    )
    kw = dict(n_hashes=8, bands=4, shingle_k=5, max_bucket=64)
    fresh, replay = str(tmp_path / "a"), str(tmp_path / "b")
    want = []
    for d in range(3):
        day_df = docs.filter(F.col("doc_id") % 3 == d)
        want.append(
            sorted(map(tuple, incremental_neardup_update(
                spark, day_df, fresh, d, **kw).collect()))
        )
        incremental_neardup_update(spark, day_df, replay, d, **kw)
    # replay day 1 with days 0..2 all present: identical output
    got = sorted(map(tuple, incremental_neardup_update(
        spark, docs.filter(F.col("doc_id") % 3 == 1), replay, 1, **kw
    ).collect()))
    assert got == want[1]


# --- batched Myers Levenshtein kernel (VERDICT r18 #7) --------------------


def test_myers_matches_builtin_levenshtein(spark):
    """The bit-parallel kernel must equal F.levenshtein exactly — unicode
    codepoints, empties, NULLs, 64-bit word boundaries, long strings."""
    import random

    rng = random.Random(11)
    rows = [
        ("", ""), ("", "abc"), ("abc", ""), ("abc", "abc"),
        ("kitten", "sitting"), ("a" * 64, "a" * 64), ("a" * 65, "b" * 64),
        ("a" * 128, "a" * 127 + "b"), ("ü" * 70 + "x", "ü" * 70 + "y"),
        ("日本語テキスト", "日本語のテキスト"), ("🎉🎊x", "🎉y🎊"),
        (None, "abc"), ("abc", None), (None, None),
    ]
    alphabet = "abcdefgh ü日🎉"
    for _ in range(120):
        la, lb = rng.randint(0, 300), rng.randint(0, 300)
        rows.append(
            ("".join(rng.choice(alphabet) for _ in range(la)),
             "".join(rng.choice(alphabet) for _ in range(lb)))
        )
    df = spark.createDataFrame(rows, "a string, b string")
    from bun_csv_spark.functions.editdist import levenshtein_udf

    got = df.select(
        F.levenshtein("a", "b").cast("long").alias("want"),
        levenshtein_udf()("a", "b").alias("got"),
    ).collect()
    for r in got:
        assert r["got"] == r["want"], r

    # one kernel call per batch, at the sub-batch edges: a single pair,
    # three pairs, and more than _MAX_PAIRS pairs (several sub-batches),
    # with lengths from 0 to ~700 code points in one batch
    from bun_csv_spark.functions import editdist

    rows = _random_pairs(rng, editdist._MAX_PAIRS + 77, alphabet)
    want = _builtin_levenshtein(spark, rows)
    for lo, hi in ((0, 1), (1, 4), (0, len(rows))):
        a, b = zip(*rows[lo:hi])
        assert editdist.batched_levenshtein(list(a), list(b)).tolist() == want[lo:hi]


def _random_pairs(rng, n_pairs, alphabet):
    """Near-duplicate pairs whose lengths differ widely: empty, a few
    chars, around the 64-bit word boundaries, and several hundred."""
    rows = []
    for _ in range(n_pairs):
        la = rng.choice([0, 1, 5, 63, 64, 65, 127, 128, 129, 300, 700])
        la = max(0, la + rng.randint(-2, 2))
        a = "".join(rng.choice(alphabet) for _ in range(la))
        b = list(a[: rng.randint(0, la)] if rng.random() < 0.2 else a)
        for _ in range(rng.randint(0, 6)):
            op = rng.random()
            if op < 0.4 and b:
                b[rng.randrange(len(b))] = rng.choice(alphabet)
            elif op < 0.7:
                b.insert(rng.randint(0, len(b)), rng.choice(alphabet))
            elif b:
                del b[rng.randrange(len(b))]
        rows.append((a, "".join(b)))
    return rows


def _builtin_levenshtein(spark, rows):
    df = spark.createDataFrame(rows, "a string, b string")
    return [r[0] for r in df.select(F.levenshtein("a", "b")).collect()]


def test_myers_table_stays_under_budget_on_a_wide_alphabet(spark, monkeypatch):
    """20k distinct code points in one batch: each pair's match table
    holds only its own pattern's alphabet, so every sub-batch stays under
    the byte budget (a batch-wide alphabet would need a 5-word x 200-pair
    x 20,000-row table, 160 MB), and the distances still equal
    F.levenshtein."""
    import random

    from bun_csv_spark.functions import editdist

    rng = random.Random(29)
    rows = []
    for i in range(200):  # pair i uses its own 100 code points
        script = [chr(0x4E00 + 100 * i + c) for c in range(100)]
        a = script + rng.choices(script, k=rng.randint(0, 200))
        rng.shuffle(a)
        b = a[rng.randint(0, 9):]
        for _ in range(rng.randint(0, 6)):
            b[rng.randrange(len(b))] = rng.choice(script)
        rows.append(("".join(a), "".join(b)))
    assert len({c for a, _ in rows for c in a}) == 20_000

    seen = []
    packed = editdist._myers_packed

    def recording(m, n, n_rows, words, row_a, row_b):
        seen.append((m.size, m.size * n_rows * words * 8))
        return packed(m, n, n_rows, words, row_a, row_b)

    monkeypatch.setattr(editdist, "_myers_packed", recording)
    want = _builtin_levenshtein(spark, rows)
    a, b = zip(*rows)
    for budget in (editdist._TABLE_BYTES, 64 << 10):
        monkeypatch.setattr(editdist, "_TABLE_BYTES", budget)
        seen.clear()
        assert editdist.batched_levenshtein(list(a), list(b)).tolist() == want
        assert all(size <= budget or pairs == 1 for pairs, size in seen), seen
    assert len(seen) > 1  # the small budget split the batch


def test_batched_levenshtein_numpy_edges():
    from bun_csv_spark.functions.editdist import batched_levenshtein

    assert batched_levenshtein([], []).tolist() == []
    assert batched_levenshtein(["x"], [""]).tolist() == [1]
    assert batched_levenshtein(["ab", "abc"], ["ab", "abc"]).tolist() == [0, 0]


# --- connected_components non-convergence warning ------------------------


def test_connected_components_warns_on_max_iter_exhaustion(spark):
    from bun_csv_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning, match="max_iter"):
        connected_components(pairs, max_iter=2).collect()


def test_connected_components_zero_max_iter_warns_with_identity_labels(spark):
    from bun_csv_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="max_iter=0"):
        out = {r.node: r.label for r in connected_components(pairs, max_iter=0).collect()}
    assert out == {1: 1, 2: 2, 3: 3}


def test_connected_components_no_warning_on_convergence(spark, recwarn):
    from bun_csv_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r.node: r.label for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1}
    assert not [w for w in recwarn if issubclass(w.category, RuntimeWarning)]
