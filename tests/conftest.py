import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("bloomjoin_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def assert_df_equal(actual, expected, ignore_order=True):
    """Differential-test helper (reference strips bloomjoin class/attrs,
    R/bloomjoin.R:440-456; here both sides are plain DataFrames)."""
    acols = sorted(actual.columns)
    assert sorted(expected.columns) == acols, (
        f"schema mismatch: {actual.columns} vs {expected.columns}"
    )
    a = [tuple(r) for r in actual.select(*acols).collect()]
    e = [tuple(r) for r in expected.select(*acols).collect()]
    if ignore_order:
        key = lambda t: tuple((v is None, str(v)) for v in t)
        a, e = sorted(a, key=key), sorted(e, key=key)
    assert a == e, f"rows differ: {len(a)} vs {len(e)}; first diff: " + str(
        next((p for p in zip(a, e) if p[0] != p[1]), None)
    )


def tagged_jobs(spark, fn):
    """``(fn(), n)``: ``n`` is the number of Spark jobs that ran under a
    fresh session tag while ``fn`` did (a tag must not hold ``-``)."""
    import uuid

    tag = f"jobs{uuid.uuid4().hex}"
    spark.addTag(tag)
    try:
        res = fn()
    finally:
        spark.removeTag(tag)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return res, sum(
        any(t.endswith(f"-{tag}") for t in jobs.apply(i).jobTags().mkString(" ").split())
        for i in range(jobs.size())
    )


def n_exchanges(df):
    """Shuffle plus broadcast exchanges in ``df``'s executed plan."""
    from bloomjoin_spark.plans import plan_audit

    a = plan_audit(df)
    return a.n_shuffle_exchanges + a.n_broadcast_exchanges
