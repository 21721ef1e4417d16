"""Span arithmetic and the status-store reader of the traced run."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

from spans import Span, StatusReader, Tracer, covered, tree_rss_bytes  # noqa: E402


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0.0, 10.0) == 0.0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4  # overlap counted once
    assert covered([(2, 5), (1, 3)], 0, 10) == 4  # order does not matter
    assert covered([(1, 2), (1.5, 1.8)], 0, 10) == 1  # nested
    assert covered([(-2, 1), (8, 12)], 0, 10) == 3  # clipped at both ends
    assert covered([(11, 12)], 0, 10) == 0


def _tracer_with(spans):
    tr = Tracer()
    tr.spans = spans
    return tr


def test_self_time_subtracts_direct_children_only():
    # pass [0, 10] -> op [1, 6] -> layer [2, 5]; op2 [7, 9]
    tr = _tracer_with([
        Span("pass", 0.0, None, built=10.0, end=10.0),
        Span("op", 1.0, 0, built=1.5, end=6.0),
        Span("layer", 2.0, 1, built=2.0, end=5.0),
        Span("op2", 7.0, 0, built=9.0, end=9.0),
    ])
    assert tr.stats(0)["self_s"] == pytest.approx(10 - 5 - 2)
    assert tr.stats(1)["self_s"] == pytest.approx(5 - 3)
    assert tr.stats(2)["self_s"] == pytest.approx(3)
    assert tr.stats(1)["build_s"] == pytest.approx(0.5)
    assert tr.stats(1)["wall_s"] == pytest.approx(5)


def test_medians_per_name_and_counters():
    tr = _tracer_with([
        Span("a", 0.0, None, built=1.0, end=1.0, counters={"jobs": 1}),
        Span("a", 1.0, None, built=4.0, end=4.0, counters={"jobs": 3}),
        Span("a", 4.0, None, built=6.0, end=6.0, counters={"jobs": 2}),
    ])
    m = tr.medians()
    assert m["a"]["wall_s"] == 2.0
    assert m["a"]["jobs"] == 2
    assert tr.walls("a") == [1.0, 3.0, 2.0]


def test_untraced_tracer_records_nesting():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner") as sp:
            sp.mark_built()
            sp.count("candidates", 7)
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    assert outer.start <= inner.start <= inner.built <= inner.end <= outer.end
    assert tr.stats(1)["candidates"] == 7
    assert not tr.enabled


@pytest.fixture(scope="module")
def spark():
    from bun_csv_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_status_reader_scopes_counters_to_each_span(spark):
    sc = spark.sparkContext
    tr = Tracer(StatusReader(sc))
    with tr.span("outer"):
        with tr.span("inner"):
            spark.range(200_000).repartition(4).selectExpr("sum(id)").collect()
    outer, inner = tr.spans
    assert inner.counters["jobs"] >= 1
    assert inner.counters["cpu_s"] > 0
    assert inner.counters["shuffle_write_mb"] > 0
    assert outer.counters["jobs"] == 0  # the child's jobs are not the parent's
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_tree_rss_covers_this_process():
    with open("/proc/self/statm") as f:
        own = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    assert tree_rss_bytes(os.getpid()) >= own > 0
