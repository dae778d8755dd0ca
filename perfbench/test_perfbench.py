"""Tests of the benchmark's own parts: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import oracle
from perfbench.counters import UNAVAILABLE, SparkCounters
from perfbench.spans import Span, Tracer
from perfbench.stats import spread, tail


# -- Spark counters ----------------------------------------------------------
class _Info:
    def __init__(self, **kw):
        self.__dict__.update(kw)


class _Tracker:
    def getJobIdsForGroup(self, group):
        return [0, 1] if group == "g" else []

    def getJobInfo(self, j):
        return _Info(stageIds=[j * 2, j * 2 + 1])

    def getStageInfo(self, s):
        # stage 3 was skipped: no task ran
        done = 0 if s == 3 else s + 1
        return _Info(numCompletedTasks=done, numFailedTasks=int(s == 2))


class _NoStoreContext:
    """A context whose status store cannot be reached."""

    def statusTracker(self):
        return _Tracker()


def test_counters_public_tracker_and_unavailable_store():
    got = SparkCounters(_NoStoreContext()).group("g")
    assert got["jobs"] == 2
    assert got["stages"] == 3  # stages 0, 1, 2; 3 was skipped
    assert got["tasks"] == 1 + 2 + 3
    assert got["failed_tasks"] == 1
    for k in ("executor_cpu_s", "executor_run_s", "shuffle_bytes"):
        assert got[k] == UNAVAILABLE


def test_counters_store_error_degrades():
    from py4j.protocol import Py4JError

    class _Jsc:
        def sc(self):
            raise Py4JError("no status store")

    ctx = _NoStoreContext()
    ctx._jsc = _Jsc()
    assert SparkCounters(ctx).group("g")["executor_cpu_s"] == UNAVAILABLE


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_counters_live_session(spark):
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-test", "counters")
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    got = SparkCounters(sc).group("perfbench-test")
    assert got["jobs"] >= 1 and got["stages"] >= 1 and got["tasks"] >= 1
    assert got["failed_tasks"] == 0
    assert isinstance(got["executor_cpu_s"], float) and got["executor_cpu_s"] > 0
    assert got["shuffle_bytes"] > 0


def test_tracer_job_group_and_self_time(spark):
    sc = spark.sparkContext
    tr = Tracer(sc)
    with tr.span("outer", "r1") as outer:
        with tr.span("inner") as inner:
            spark.range(100).count()
    assert inner.parent == outer.id and inner.request == "r1"
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    tr.attach_counters(SparkCounters(sc))
    assert inner.counters["jobs"] >= 1 and outer.counters["jobs"] == 0
    kids = tr.children()[outer.id]
    assert 0 <= tr.self_time(outer, kids) <= outer.dur - inner.dur + 1e-9


# -- pure helpers ------------------------------------------------------------
def test_self_time_merges_overlapping_children():
    p = Span(1, "p", 0.0, None, None, "t", end=10.0)
    kids = [Span(2, "a", 1.0, 1, None, "t", end=4.0),
            Span(3, "b", 3.0, 1, None, "u", end=6.0),
            Span(4, "c", 8.0, 1, None, "t", end=12.0)]
    assert Tracer.self_time(p, kids) == pytest.approx(10 - 5 - 2)


def test_tail_needs_ten_beyond():
    assert tail(list(range(10)))["value"] is None
    t = tail([float(x) for x in range(20)])
    assert t == {"value": 9.0, "pct": 50.0, "n": 20}


def test_spread_quartiles():
    s = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0 and s["min"] == 1.0 and s["max"] == 5.0
    assert s["iqr_frac"] == pytest.approx((s["q3"] - s["q1"]) / 3.0)


def test_topk_breaks_ties_by_id():
    ids = np.array([5, 3, 9, 1])
    scores = np.array([[0.5, 0.9, 0.9, 0.1]])
    assert oracle.topk(scores, ids, 3) == [[3, 9, 5]]


def test_rank_match_accepts_only_score_ties():
    score = {1: 0.9, 2: 0.8, 3: 0.8 - 1e-9, 4: 0.5}
    assert oracle.rank_matches([1, 3], [1, 2], score)
    assert not oracle.rank_matches([1, 4], [1, 2], score)
