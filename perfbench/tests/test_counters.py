"""The outside-in counters agree with Spark's own status tracker.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from counters import SparkCounters, parse_timing_metric  # noqa: E402
from tracing import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench_tests")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _tracker_view(spark, group):
    """Jobs and ran stages of a job group, as ``statusTracker`` sees them."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages = 0
    for jid in job_ids:
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
    return len(job_ids), stages


def _tagged_run(spark, counters, tag, action):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        with counters.tagged(tag):
            action()
    finally:
        sc.setJobGroup(None, None)


def test_counts_match_status_tracker(spark):
    from pyspark.sql import functions as F

    counters = SparkCounters(spark)
    df = spark.range(0, 20_000, 1, 4).withColumn("k", F.col("id") % 13)
    _tagged_run(spark, counters, "pbagg", lambda: df.groupBy("k").count().collect())
    _tagged_run(spark, counters, "pbtwo",
                lambda: (df.count(), df.join(df.select("id"), "id").count()))
    spark.range(10).count()  # untagged: must not be attributed to either tag

    got = counters.collect(["pbagg", "pbtwo"])
    for tag in ("pbagg", "pbtwo"):
        jobs, stages = _tracker_view(spark, tag)
        assert got[tag]["jobs"] == jobs > 0
        assert got[tag]["stages"] == stages > 0
        assert got[tag]["task_s"] >= 0
        assert got[tag]["result_mb"] > 0
    assert got["pbagg"]["shuffle_write_mb"] > 0
    assert got["pbagg"]["python_s"] == 0


def test_python_time_is_attributed_to_its_tag(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    counters = SparkCounters(spark)
    df = spark.range(0, 50_000, 1, 2)
    _tagged_run(spark, counters, "pbudf",
                lambda: df.select(F.sum(plus_one("id"))).collect())
    _tagged_run(spark, counters, "pbjvm", lambda: df.select(F.sum("id")).collect())
    got = counters.collect(["pbudf", "pbjvm"])
    assert got["pbudf"]["python_s"] > 0
    assert got["pbjvm"]["python_s"] == 0
    assert got["pbudf"]["jobs"] == _tracker_view(spark, "pbudf")[0]


def test_tags_with_dashes_are_refused(spark):
    with pytest.raises(ValueError):
        with SparkCounters(spark).tagged("a-b"):
            pass


def test_parse_timing_metric():
    text = "total (min, med, max (stageId: taskId))\n4.9 s (231 ms, 2.2 s, 2.2 s)"
    assert parse_timing_metric(text) == pytest.approx(4.9)
    text = "total (min, med, max)\n350 ms (1 ms, 2 ms, 3 ms)"
    assert parse_timing_metric(text) == pytest.approx(0.35)
    assert parse_timing_metric(None) == 0.0


def test_self_time_subtracts_children():
    tracer = Tracer()
    with tracer.span("op:x"):
        with tracer.span("aggregate.build"):
            pass
    (child, parent) = tracer.spans
    self_times = tracer.self_times()
    assert self_times["aggregate"] == pytest.approx(child[4] - child[3])
    assert self_times["op"] == pytest.approx((parent[4] - parent[3]) - (child[4] - child[3]))
    assert parent[1] is None and child[1] == parent[0]


def test_install_wraps_and_uninstall_restores():
    import importlib

    import bloomjoin_spark.aggregate as agg
    from bloomjoin_spark.sketches import HllSketch

    # the operators package re-exports a function under the module's name
    bjmod = importlib.import_module("bloomjoin_spark.operators.bloom_join")

    before = (agg.build_sketch, bjmod.build_sketch, HllSketch.merge)
    tracer = Tracer()
    tracer.install()
    try:
        assert agg.build_sketch is not before[0]
        assert bjmod.build_sketch is agg.build_sketch
        a, b = HllSketch(10), HllSketch(10)
        a.merge(b)
        assert [s[2] for s in tracer.spans] == ["sketches.HllSketch.merge"]
    finally:
        tracer.uninstall()
    assert (agg.build_sketch, bjmod.build_sketch, HllSketch.merge) == before
