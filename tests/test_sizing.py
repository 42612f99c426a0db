"""``plans.size``: one size estimate per frame, an upper bound on its rows
with the source that proved it, and the one collect rule every lane
gate reads."""

import importlib
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from bloomjoin_spark.plans import Size, size
from bloomjoin_spark.plans.sizing import SCAN_BYTES
from conftest import SF_DIR, assert_df_equal, tagged_jobs


@pytest.fixture(scope="module")
def cached(spark):
    df = spark.range(0, 3_000, 1, 4).select("id", F.col("id").cast("string").alias("s"))
    df = df.persist()
    df.count()
    yield df
    df.unpersist()


def test_size_plan_row_count(spark):
    got = size(spark.range(0, 500, 1, 2))
    assert (got.rows_max, got.cached, got.source) == (500, False, "plan")
    assert got.bytes is not None


@pytest.mark.parametrize("shape", ["project", "filter"])
def test_size_cache_under_project_or_filter(cached, shape):
    """Catalyst drops the row count above a filled cache; the walk
    carries the cache's exact count up as a bound."""
    df = cached.select("id") if shape == "project" else cached.where(F.col("id") % 7 == 0)
    assert df._jdf.queryExecution().optimizedPlan().stats().rowCount().isEmpty()
    got = size(df)
    assert (got.rows_max, got.cached, got.source) == (3_000, True, "cache")


def test_size_footers_of_filtered_parquet_scan(spark, tmp_path):
    path = str(tmp_path / "keys")
    spark.range(0, 5_000, 1, 3).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("id") % 10 == 0).select("id")
    got = size(df)
    assert (got.rows_max, got.cached, got.source) == (5_000, False, "footer")
    assert got.bytes <= SCAN_BYTES
    assert df.count() == 500


@pytest.mark.parametrize("shape", ["explode", "join"])
def test_size_unknown_through_explode_and_join(cached, shape):
    if shape == "explode":
        df = cached.select(F.explode(F.array("id", "id")).alias("x"))
    else:
        df = cached.join(cached.select("id"), "id")
    got = size(df)
    assert (got.rows_max, got.source) == (None, "unknown")


def test_size_observed_and_collect_rule():
    """The one rule: a collect runs only within the row bound, and on a
    materialized frame or one under ``SCAN_BYTES``; an unknown row
    count passes on its bytes alone."""
    obs = Size.observed(7)
    assert obs == Size(rows_max=7, bytes=None, cached=True, source="observed")
    assert obs.collectable(7) and not obs.collectable(6)
    assert Size(bytes=10).collectable(1)
    assert not Size(bytes=SCAN_BYTES + 1).collectable(1)
    assert not Size().collectable(1)
    assert not Size(rows_max=2, bytes=10, source="footer").collectable(1)
    assert Size(rows_max=1, bytes=SCAN_BYTES + 1, cached=True, source="cache").collectable(1)


def test_catalyst_stats_read_in_one_module():
    """Only ``plans/sizing.py`` reads Catalyst statistics: every other
    gate reads its ``Size``."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "bloomjoin_spark"
    pattern = re.compile(r"\.stats\(\)|sizeInBytes\(|rowCount\(")
    readers = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py") if pattern.search(p.read_text())
    )
    assert readers == ["plans/sizing.py"]


def _overflowed_collects(spark, monkeypatch, bound):
    """Every ``toArrow`` collect that came back with ``bound + 1`` rows:
    a bounded collect at ``bound`` that was thrown away."""
    frame = type(spark.range(0))
    real, seen = frame.toArrow, []

    def spy(self):
        tbl = real(self)
        if tbl.num_rows == bound + 1:
            seen.append(tbl.num_rows)
        return tbl

    monkeypatch.setattr(frame, "toArrow", spy)
    return seen


def _dedup_runs_no_collect(spark, monkeypatch, batch, history):
    """``incremental_dedup(batch, history)`` runs no thrown-away
    one-task collect and the jobs of the forced distributed lane, with
    the same rows; returns the kept ids."""
    from bloomjoin_spark.operators import IncrementalDedupReport, incremental_dedup

    dd = importlib.import_module("bloomjoin_spark.operators.dedup")

    def call():
        return sorted(r.doc_id for r in incremental_dedup(
            batch, history, report=IncrementalDedupReport()).select("doc_id").collect())

    def jobs():
        return min(tagged_jobs(spark, call)[1] for _ in range(2))

    seen = _overflowed_collects(spark, monkeypatch, dd._SMALL_DEDUP_ROWS)
    got, n_jobs = call(), jobs()
    assert seen == []
    monkeypatch.setattr(dd, "_small_batch_dedup", lambda *a, **kw: None)
    assert call() == got
    assert n_jobs == jobs()
    return got


def _docs_parquet(spark, path, lo, hi, distinct):
    spark.range(lo, hi, 1, 4).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), (F.col("id") % distinct).cast("string")).alias("text"),
    ).write.parquet(path)
    return spark.read.parquet(path)


def _history(spark, n):
    return spark.range(0, 3_000, 1, 2).select(
        (F.col("id") + 10 * n).alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )


def test_parquet_batch_over_dedup_bound_runs_no_collect(spark, monkeypatch, tmp_path):
    """A parquet batch over ``_SMALL_DEDUP_ROWS`` rows, read without
    CBO, is bounded by its footers: it takes the distributed lane with
    no thrown-away one-task collect, so it runs the jobs of the forced
    distributed lane, with the same rows."""
    dd = importlib.import_module("bloomjoin_spark.operators.dedup")
    n = dd._SMALL_DEDUP_ROWS + 8_000
    batch = _docs_parquet(spark, str(tmp_path / "batch"), 0, n, n - 2_000)
    assert size(batch).source == "footer"
    got = _dedup_runs_no_collect(spark, monkeypatch, batch, _history(spark, n))
    assert len(got) == n - 2_000 - 3_000


def test_size_sums_a_union_of_scans(spark, tmp_path):
    """A ``Union`` sums its children's bounds, each read from its own
    scan's footers: a self-union of one parquet dir holds twice its rows
    though ``inputFiles()`` lists the dir's files once."""
    path = str(tmp_path / "keys")
    spark.range(0, 200_000, 1, 3).write.parquet(path)
    a = spark.read.parquet(path)
    assert len(a.unionByName(a).inputFiles()) == len(a.inputFiles()) == 3
    got = size(a.unionByName(spark.read.parquet(path)))
    assert (got.rows_max, got.source) == (400_000, "footer")
    got = size(a.unionByName(a.select(F.explode(F.array("id", "id")).alias("id"))))
    assert (got.rows_max, got.source) == (None, "unknown")


def test_union_batch_over_dedup_bound_runs_no_collect(spark, monkeypatch, tmp_path):
    """A batch that is a union of two parquet scans, over
    ``_SMALL_DEDUP_ROWS`` rows together, is bounded by the sum of their
    footers: it takes the distributed lane with no thrown-away collect."""
    dd = importlib.import_module("bloomjoin_spark.operators.dedup")
    half = dd._SMALL_DEDUP_ROWS // 2 + 4_000
    a = _docs_parquet(spark, str(tmp_path / "a"), 0, half, half)
    b = _docs_parquet(spark, str(tmp_path / "b"), half, 2 * half, half)
    batch = a.unionByName(b)
    assert size(batch).rows_max == 2 * half > dd._SMALL_DEDUP_ROWS
    got = _dedup_runs_no_collect(spark, monkeypatch, batch, _history(spark, 2 * half))
    assert len(got) == half - 3_000


def test_parquet_build_side_over_bound_runs_no_collect(spark, monkeypatch):
    """A parquet build side over ``_SMALL_BUILD_ROWS`` (lowered to 100)
    is bounded by its footers, so no bounded collect of its keys runs
    only to come back over the bound."""
    from bloomjoin_spark.operators import bloom_join

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")
    monkeypatch.setattr(bj, "_SMALL_BUILD_ROWS", 100)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "source")
    x = spark.range(0, 2_000).withColumnRenamed("id", "doc_id")
    seen = _overflowed_collects(spark, monkeypatch, 100)
    got, rep = bloom_join(x, docs, on="doc_id", engine="bloom", prefilter_side="x",
                          force_prefilter=True, return_report=True)
    assert seen == []
    assert rep.used_prefilter and rep.n_build == docs.count() > 100
    assert_df_equal(got, x.join(docs, "doc_id", "inner"))

