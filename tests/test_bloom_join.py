"""Differential bloom_join tests — every behavioral case compares
bloom_join output against the plain Spark join on the same inputs (the
reference's exact-join-oracle pattern, tests/testthat/test-bloom_join.R)."""

import warnings

import pytest
from pyspark.sql import functions as F

from bloomjoin_spark import bloom_join
from bloomjoin_spark.plans.planner import spark_how

from conftest import assert_df_equal, tagged_jobs


@pytest.fixture(scope="module")
def xy(spark):
    # F1 fixture: partial overlap (ids 1..100 vs 50..150)
    x = spark.range(1, 101).select(
        F.col("id"), (F.col("id") * 1.5).alias("value_x")
    )
    y = spark.range(50, 151).select(
        F.col("id"), (F.col("id") * 2.0).alias("value_y")
    )
    return x, y


HOWS = ["inner", "left", "right", "full", "semi", "anti"]


@pytest.mark.parametrize("how", HOWS)
def test_identical_to_plain_join(spark, xy, how):
    x, y = xy
    got = bloom_join(x, y, on="id", how=how, force_prefilter=True)
    exp = x.join(y, on="id", how={"semi": "left_semi", "anti": "left_anti"}.get(how, how))
    assert_df_equal(got, exp)


@pytest.mark.parametrize("how", ["inner", "semi", "anti", "left"])
def test_zero_overlap(spark, how):
    x = spark.range(0, 200).withColumn("vx", F.col("id") + 1)
    y = spark.range(500, 700).select(F.col("id"), (F.col("id") - 1).alias("vy"))
    got = bloom_join(x, y, on="id", how=how, force_prefilter=True)
    exp = x.join(y, on="id", how={"semi": "left_semi", "anti": "left_anti"}.get(how, how))
    assert_df_equal(got, exp)


def test_full_overlap(spark):
    x = spark.range(0, 300).withColumn("vx", F.lit("a"))
    y = spark.range(0, 300).withColumn("vy", F.lit("b"))
    got, rep = bloom_join(x, y, on="id", how="inner", force_prefilter=True, return_report=True)
    assert_df_equal(got, x.join(y, "id", "inner"))
    assert rep.used_prefilter


def test_duplicate_keys_cartesian(spark):
    # reference test-bloom_join.R:181-202 — 6×6 duplicate key ⇒ 36 rows
    x = spark.createDataFrame([(1, i) for i in range(6)], "id int, vx int")
    y = spark.createDataFrame([(1, i) for i in range(6)], "id int, vy int")
    got = bloom_join(x, y, on="id", how="inner", force_prefilter=True)
    assert got.count() == 36


def test_string_keys(spark):
    x = spark.createDataFrame(
        [(f"k{i}", i) for i in range(200)] + [("été", -1), ("naïve☃", -2)],
        "k string, vx int",
    )
    y = spark.createDataFrame(
        [(f"k{i}", i * 10) for i in range(100, 300)] + [("été", -10)],
        "k string, vy int",
    )
    got = bloom_join(x, y, on="k", how="inner", force_prefilter=True)
    assert_df_equal(got, x.join(y, "k", "inner"))


def test_composite_keys(spark):
    rows = [(i % 10, f"s{i % 7}", i) for i in range(500)]
    x = spark.createDataFrame(rows, "a int, b string, vx int")
    y = spark.createDataFrame(
        [(i % 10, f"s{i % 5}", i * 2) for i in range(100)], "a int, b string, vy int"
    )
    got = bloom_join(x, y, on=["a", "b"], how="inner", force_prefilter=True)
    assert_df_equal(got, x.join(y, ["a", "b"], "inner"))


def test_renamed_keys(spark):
    # by = c("id_x" = "id_y")
    x = spark.createDataFrame([(i, i * 2) for i in range(100)], "id_x int, vx int")
    y = spark.createDataFrame([(i, i * 3) for i in range(50, 150)], "id_y int, vy int")
    got = bloom_join(x, y, on={"id_x": "id_y"}, how="inner", force_prefilter=True)
    exp = x.join(y, on=x["id_x"] == y["id_y"], how="inner")
    assert_df_equal(got, exp)


def test_cross_type_keys_int_vs_double(spark):
    # reference test-cross-type-keys.R:16-44 — join-equal must survive
    # the prefilter even when storage types differ
    x = spark.range(0, 3000).select(F.col("id").cast("int").alias("k"), F.col("id").alias("vx"))
    y = spark.range(1500, 4500).select(
        F.col("id").cast("double").alias("k"), (F.col("id") * 2).alias("vy")
    )
    for how in ["inner", "left", "semi", "anti"]:
        got = bloom_join(x, y, on="k", how=how, force_prefilter=True)
        exp = x.join(y, on=x["k"] == y["k"], how={"semi": "left_semi", "anti": "left_anti"}.get(how, how))
        if how in ("semi", "anti"):
            exp = x.join(y, on=x["k"] == y["k"], how={"semi": "left_semi", "anti": "left_anti"}[how])
        assert got.count() == exp.count()


def test_cross_type_long_vs_float(spark):
    # long+float joins compare as float in Spark; hash must agree
    x = spark.range(0, 2000).select(F.col("id").alias("k"), F.lit(1).alias("vx"))
    y = spark.range(1000, 3000).select(F.col("id").cast("float").alias("k"), F.lit(2).alias("vy"))
    got = bloom_join(x, y, on={"k": "k"}, how="inner", force_prefilter=True)
    exp = x.join(y, on=x["k"] == y["k"], how="inner")
    assert got.count() == exp.count()


def test_null_keys_all_join_types(spark):
    # nulls never match in Spark joins; prefilter must not change that
    x = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (None, "d"), (5, "e")], "id int, vx string"
    )
    y = spark.createDataFrame(
        [(1, "p"), (None, "q"), (5, "r"), (7, "s")], "id int, vy string"
    )
    for how in HOWS:
        got = bloom_join(x, y, on="id", how=how, force_prefilter=True)
        exp = x.join(y, "id", {"semi": "left_semi", "anti": "left_anti"}.get(how, how))
        assert_df_equal(got, exp)


def test_fpr_invariance_of_results(spark, xy):
    # reference test-bloom_join.R:253-272: result identical for any fpr
    x, y = xy
    exp = x.join(y, "id", "inner")
    for fpp in [1e-4, 0.01, 0.5]:
        got = bloom_join(x, y, on="id", how="inner", fpp=fpp, force_prefilter=True)
        assert_df_equal(got, exp)


def test_auto_by_detection(spark, xy):
    x, y = xy
    got = bloom_join(x, y, how="inner", force_prefilter=True)  # on=None → common col "id"
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_empty_inputs(spark):
    x = spark.createDataFrame([], "id int, vx int")
    y = spark.createDataFrame([(1, 2)], "id int, vy int")
    assert bloom_join(x, y, on="id", how="inner").count() == 0
    assert bloom_join(y, x, on="id", how="inner").count() == 0
    assert bloom_join(y, x, on="id", how="left").count() == 1


def test_unsafe_side_warns_and_overrides(spark, xy):
    # reference test-edge-cases.R:8-44
    x, y = xy
    with pytest.warns(UserWarning, match="unsafe"):
        got, rep = bloom_join(
            x, y, on="id", how="left", prefilter_side="x",
            force_prefilter=True, return_report=True,
        )
    assert rep.override_requested_side
    assert rep.prefilter_side == "y"
    assert_df_equal(got, x.join(y, "id", "left"))


def test_full_join_never_prefiltered(spark, xy):
    x, y = xy
    got, rep = bloom_join(x, y, on="id", how="full", force_prefilter=True, return_report=True)
    assert not rep.used_prefilter
    assert_df_equal(got, x.join(y, "id", "full"))


def test_skip_gates_small_build(spark):
    x = spark.range(0, 50).withColumn("vx", F.lit(1))
    y = spark.range(0, 5).withColumn("vy", F.lit(2))  # 5 < MIN_BUILD_DISTINCT
    with _no_broadcast_gate(spark):
        got, rep = bloom_join(x, y, on="id", how="inner", return_report=True)
    assert not rep.used_prefilter
    assert any("too few distinct" in r for r in rep.skip_reasons)
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_engine_dispatch(spark, xy):
    x, y = xy
    with pytest.raises(NotImplementedError):
        bloom_join(x, y, on="id", engine="fuse")
    with pytest.raises(ValueError):
        bloom_join(x, y, on="id", engine="nope")


def test_auto_engine_prefers_native_without_metrics(spark):
    """auto → native unless checkpointed resume is requested: row
    metrics come from an Observation, which the native engine carries
    as well, and land after an action."""
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    _, rep = bloom_join(
        x, y, on="id", force_prefilter=True, collect_metrics=False,
        return_report=True,
    )
    assert rep.engine == "native"
    got, rep2 = bloom_join(x, y, on="id", force_prefilter=True, return_report=True)
    assert rep2.engine == "native"
    assert rep2.finalize().probe_rows_before is None  # no action yet
    assert got.count() == 800
    rep2.finalize()
    assert rep2.probe_rows_before == 8_000
    assert 800 <= rep2.probe_rows_after < 8_000


def test_validation_errors(spark, xy):
    x, y = xy
    with pytest.raises(ValueError, match="fpp"):
        bloom_join(x, y, on="id", fpp=1.5)
    with pytest.raises(ValueError, match="join type"):
        bloom_join(x, y, on="id", how="sideways")
    with pytest.raises(ValueError, match="not in x"):
        bloom_join(x, y, on="nope")
    with pytest.raises(TypeError):
        bloom_join("not a df", y, on="id")


def test_report_metadata(spark):
    x = spark.range(0, 5000).withColumn("vx", F.col("id") * 2)
    y = spark.range(0, 500).withColumn("vy", F.col("id") * 3)
    got, rep = bloom_join(x, y, on="id", how="inner", force_prefilter=True, return_report=True)
    n = got.count()  # action → accumulators populated
    assert n == 500
    assert rep.used_prefilter and rep.prefilter_side == "x" and rep.build_side == "y"
    assert rep.filter_bits and rep.filter_bits & (rep.filter_bits - 1) == 0
    assert rep.n_build == 500
    assert rep.build_partitions >= 1
    # public row metrics (reference bloom_metadata filtered/retained/
    # reduction fields): finalize() reads the accumulators after the
    # action. Task-level telemetry may re-evaluate the probe, so the
    # counts bound the logical row counts; the ratio stays exact.
    rep.finalize()
    assert rep.probe_rows_before >= 5000
    assert rep.probe_rows_after <= rep.probe_rows_before
    assert rep.reduction_ratio >= 0.75  # ≥75% filtered before the join


def test_prefilter_actually_reduces(spark):
    # sparse join: reduction must exceed 0.95
    # (reference test-memory-performance.R:276-301)
    x = spark.range(0, 50_000).withColumn("vx", F.lit(1))
    y = spark.range(0, 50).withColumn("vy", F.lit(2))
    got, rep = bloom_join(
        x, y, on="id", how="inner", force_prefilter=True, return_report=True
    )
    assert got.count() == 50
    reduction = rep.finalize().reduction_ratio
    assert reduction > 0.95


import contextlib


@contextlib.contextmanager
def _no_broadcast_gate(spark):
    """Disable BOTH free plan-stats gates (broadcast + probe floor) so a
    test can isolate the gate it actually exercises on small data."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.bloomjoin.minProbeBytes", "0")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.bloomjoin.minProbeBytes")


def test_broadcast_gate_skips_small_build(spark):
    """A build side under autoBroadcastJoinThreshold skips the prefilter
    in auto mode — Catalyst's broadcast-hash join already avoids the
    probe-side shuffle, so the filter passes are pure overhead."""
    x = spark.range(0, 200_000).withColumn("vx", F.col("id"))
    y = spark.range(0, 1000).withColumn("vy", F.col("id"))
    got, rep = bloom_join(x, y, on="id", how="inner", return_report=True)
    assert not rep.used_prefilter
    assert any("autoBroadcastJoinThreshold" in r for r in rep.skip_reasons)
    assert_df_equal(got, x.join(y, "id", "inner"))
    # force_prefilter overrides the gate
    _, rep2 = bloom_join(
        x, y, on="id", how="inner", force_prefilter=True, return_report=True
    )
    assert rep2.used_prefilter


def test_probe_floor_skips_small_probe(spark):
    """Probe side under the plan-stats floor → auto skips the prefilter
    BEFORE any sizing job runs (the reference's probe_rows < 1024 gate,
    R/bloomjoin.R:385-387, on Catalyst's free size signal) — the grid's
    mid cells (200k/100k-row probes) lose 6-7× to naive without this.
    Build side over the broadcast threshold so the floor is the gate
    that fires; explicit min_probe_bytes param and the session conf both
    control it; force_prefilter bypasses it."""
    x = spark.range(0, 50_000).withColumn("vx", F.col("id"))
    y = spark.range(0, 500).withColumn("vy", F.col("id"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got, rep = bloom_join(x, y, on="id", how="inner", return_report=True,
                              min_probe_bytes=1 << 30)
        assert not rep.used_prefilter
        assert any("floor" in r for r in rep.skip_reasons)
        # no sizing aggregation ran: the gate fired on free plan stats
        assert rep.n_build is None
        assert_df_equal(got, x.join(y, "id", "inner"))
        # conf-driven floor (what a cluster operator would set)
        spark.conf.set("spark.bloomjoin.minProbeBytes", "1g")
        _, rep2 = bloom_join(x, y, on="id", how="inner", return_report=True)
        assert not rep2.used_prefilter and any("floor" in r for r in rep2.skip_reasons)
        spark.conf.unset("spark.bloomjoin.minProbeBytes")
        # floor disabled → the prefilter proceeds (other gates off too)
        spark.conf.set("spark.bloomjoin.minProbeBytes", "0")
        _, rep3 = bloom_join(x, y, on="id", how="inner", return_report=True)
        assert rep3.used_prefilter, rep3.skip_reasons
        spark.conf.unset("spark.bloomjoin.minProbeBytes")
        # force_prefilter bypasses the floor like every other gate
        _, rep4 = bloom_join(x, y, on="id", how="inner", return_report=True,
                             force_prefilter=True, min_probe_bytes=1 << 30)
        assert rep4.used_prefilter
        # code-review r4 fix: a SET conf that fails to parse must raise
        # — never silently fall back to the 256 MB default
        spark.conf.set("spark.bloomjoin.minProbeBytes", "lots")
        with pytest.raises(ValueError, match="minProbeBytes"):
            bloom_join(x, y, on="id", how="inner")
        spark.conf.unset("spark.bloomjoin.minProbeBytes")
        # byte-suffix forms parse without the JVM helper
        from bloomjoin_spark.operators.bloom_join import _parse_byte_string

        assert _parse_byte_string("256m") == 256 << 20
        assert _parse_byte_string("2g") == 2 << 30
        assert _parse_byte_string("1024") == 1024
        assert _parse_byte_string("1.5k") == 1536
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sizing_uses_distinct_not_rows(spark):
    """Build side with heavy key duplication must size the filter by
    distinct keys (the reference right-sizes to exact unique count,
    src/BloomFilter.cpp:102-118) — m for 100k rows over 100 distinct
    keys must be far below m for 100k distinct keys."""
    x = spark.range(0, 5000).withColumn("vx", F.col("id"))
    y = spark.range(0, 100_000).select((F.col("id") % 100).alias("id"))
    # pin the filtered side so the BUILD side is the duplicated one
    _, rep = bloom_join(
        x, y, on="id", how="inner", force_prefilter=True, return_report=True,
        prefilter_side="x",
    )
    assert rep.n_build == 100_000
    assert rep.build_distinct_estimate is not None
    assert rep.build_distinct_estimate < 200
    # 100-ish distinct keys at fpp=0.01 needs ~1000 bits, not ~1M
    assert rep.filter_bits < 16_384


def test_selectivity_skip_high_overlap(spark):
    """Full-overlap join: sampled pass rate ≈ 1 ⇒ prefilter skipped,
    result still identical to the plain join (reference cost gate,
    R/bloomjoin.R:300-311). Broadcast gate disabled so the SAMPLED gate
    is what fires."""
    x = spark.range(0, 20_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(0, 20_000).withColumn("vy", F.col("id") * 3)
    with _no_broadcast_gate(spark):
        got, rep = bloom_join(x, y, on="id", how="inner", return_report=True)
    assert not rep.used_prefilter
    assert rep.expected_reduction is not None and rep.expected_reduction <= 0.02
    assert any("expected reduction" in r for r in rep.skip_reasons)
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_selectivity_proceeds_low_overlap(spark):
    """1% overlap: the sampled gate must NOT skip."""
    x = spark.range(0, 50_000).withColumn("vx", F.col("id"))
    y = spark.range(0, 500).withColumn("vy", F.col("id"))
    with _no_broadcast_gate(spark):
        got, rep = bloom_join(x, y, on="id", how="inner", return_report=True)
    assert rep.used_prefilter
    assert rep.expected_reduction is None or rep.expected_reduction > 0.02
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_selectivity_sample_spans_partitions(spark):
    """Clustered probe input: every matching key lives in the FIRST
    partitions — a limit(n)-based sample would measure pass rate ≈ 1
    and wrongly skip the prefilter; the systematic per-partition sample
    must see the true ~6% selectivity and proceed."""
    from pyspark.sql import functions as SF

    # 16 range partitions in order: ids 0..49999; matches are ids < 3000
    # (the first partition), rest are non-matching
    x = spark.range(0, 50_000, 1, 16).withColumn("vx", F.col("id"))
    y = spark.range(0, 3_000).withColumn("vy", F.col("id"))
    with _no_broadcast_gate(spark):
        got, rep = bloom_join(x, y, on="id", how="inner", return_report=True)
    assert rep.used_prefilter, rep.skip_reasons
    assert rep.selectivity_estimate is not None
    assert rep.selectivity_estimate < 0.5  # not fooled into ~1.0
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_wide_table_50_columns(spark):
    """Reference test-edge-cases.R:188-213: 50-column tables survive the
    prefilter with all payload columns intact."""
    import datetime as _dt

    x = spark.range(0, 300)
    for i in range(48):
        x = x.withColumn(f"c{i}", F.col("id") * i)
    y = spark.range(100, 400).withColumn("vy", F.col("id") + 1)
    got = bloom_join(x, y, on="id", how="inner", force_prefilter=True)
    exp = x.join(y, "id", "inner")
    assert len(got.columns) == 50  # id + 48 payload + vy
    assert_df_equal(got, exp)


def test_unicode_and_collision_prone_string_keys(spark):
    """Reference test-edge-cases.R:155-186,215-232."""
    rows = [
        ("héllo wörld", 1), ("日本語キー", 2), ("emoji🙂key", 3),
        ("a" * 200, 4), ("a" * 199 + "b", 5), ("", 6),
        ("key\twith\ttabs", 7), ("key with spaces", 8),
    ]
    x = spark.createDataFrame(rows, "k string, vx int")
    y = spark.createDataFrame(rows[::2], "k string, vy int")
    got = bloom_join(x, y, on="k", how="inner", force_prefilter=True)
    assert_df_equal(got, x.join(y, "k", "inner"))


@pytest.mark.parametrize("fpp", [1e-4, 0.5])
def test_extreme_fpp_result_invariance(spark, xy, fpp):
    """Reference test-edge-cases.R:234-252: results identical at any fpp."""
    x, y = xy
    got = bloom_join(x, y, on="id", how="inner", fpp=fpp, force_prefilter=True)
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_date_vs_timestamp_cross_type_key(spark):
    """Reference test-cross-type-keys.R Date↔POSIXct: joining a date
    column to a timestamp column must not produce false negatives
    (the prefilter hashes through the common cast)."""
    x = spark.sql(
        "SELECT sequence(to_date('2024-01-01'), to_date('2024-03-10')) AS ds"
    ).select(F.explode("ds").alias("d")).withColumn("vx", F.dayofyear("d"))
    y = x.select(F.col("d").cast("timestamp").alias("t")).filter(
        F.dayofmonth("t") <= 10
    ).withColumn("vy", F.lit(1))
    got = bloom_join(x, y, on={"d": "t"}, how="inner", force_prefilter=True)
    exp = x.join(y, x["d"] == y["t"], "inner")
    assert_df_equal(got, exp)
    assert got.count() > 0


def test_auto_side_picks_larger_side(spark):
    """inner+auto: plan-stats drive the side choice — the larger side is
    filtered, the smaller side builds the filter (reference density
    rule, R/bloomjoin.R:367-376)."""
    small = spark.range(0, 2_000).withColumn("vx", F.col("id"))
    big = spark.range(0, 500_000).withColumn("vy", F.col("id"))
    with _no_broadcast_gate(spark):
        got, rep = bloom_join(
            small, big, on="id", how="inner", return_report=True,
            force_prefilter=True,
        )
        assert rep.prefilter_side == "y"
        assert rep.build_side == "x"
        got2, rep2 = bloom_join(
            big, small, on="id", how="inner", return_report=True,
            force_prefilter=True,
        )
        assert rep2.prefilter_side == "x"
        assert rep2.build_side == "y"
    assert_df_equal(got, small.join(big, "id", "inner"))


def test_broadcast_budget_warning(spark, monkeypatch):
    """A filter over the broadcast budget warns instead of silently
    shipping (the reference's 2^40-bit cap, src/BloomFilter.h:94-95,
    as a Spark broadcast concern)."""
    import importlib

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")
    monkeypatch.setattr(bj, "_BROADCAST_BUDGET_BYTES", 1024)
    x = spark.range(0, 50_000).withColumn("vx", F.col("id"))
    y = spark.range(0, 20_000).withColumn("vy", F.col("id"))
    with pytest.warns(UserWarning, match="broadcast budget"):
        got = bloom_join(x, y, on="id", how="inner", force_prefilter=True)
        assert got.count() == 20_000


@pytest.mark.parametrize("how", ["inner", "left", "semi", "anti"])
def test_native_engine_identical_to_plain_join(spark, how):
    """engine='native' (JVM stat.bloomFilter build + codegen
    BloomFilterMightContain probe) is result-identical to the plain
    join, like the sketch engine."""
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    got, rep = bloom_join(
        x, y, on="id", how=how, engine="native", force_prefilter=True,
        return_report=True,
    )
    assert_df_equal(got, x.join(y, "id", spark_how(how)))
    assert rep.engine == "native" and rep.used_prefilter


def test_native_engine_composite_and_strings(spark):
    x = spark.createDataFrame(
        [(f"d{i}", i % 50, i) for i in range(4_000)], "k string, g int, vx long"
    )
    y = spark.createDataFrame(
        [(f"d{i}", i % 50, -i) for i in range(0, 4_000, 9)], "k string, g int, vy long"
    )
    got = bloom_join(
        x, y, on=["k", "g"], how="inner", engine="native", force_prefilter=True
    )
    assert_df_equal(got, x.join(y, ["k", "g"], "inner"))


def test_native_engine_selectivity_skip(spark):
    """Full overlap + native engine: the sampled gate still fires."""
    x = spark.range(0, 20_000).withColumn("vx", F.col("id"))
    y = spark.range(0, 20_000).withColumn("vy", F.col("id"))
    with _no_broadcast_gate(spark):
        got, rep = bloom_join(
            x, y, on="id", how="inner", engine="native", return_report=True
        )
    assert not rep.used_prefilter
    assert any("expected reduction" in r for r in rep.skip_reasons)
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_native_engine_size_gate_falls_back(spark, monkeypatch):
    """A serialized filter above the plan-literal cap must NOT ship as a
    per-task literal: the native path degrades to the broadcast sketch
    engine with a warning, result unchanged."""
    import importlib

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")
    monkeypatch.setattr(bj, "_NATIVE_FILTER_CAP_BYTES", 64)
    monkeypatch.setattr(bj, "_native_fallback_warned", False)
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    with pytest.warns(UserWarning, match="plan-literal cap"):
        got, rep = bloom_join(
            x, y, on="id", how="inner", engine="native", force_prefilter=True,
            return_report=True,
        )
        assert_df_equal(got, x.join(y, "id", "inner"))
    assert rep.engine == "bloom" and rep.used_prefilter
    assert "plan-literal cap" in rep.engine_fallback_reason
    # the caller asked for "native": every such call warns, not once
    with pytest.warns(UserWarning, match="plan-literal cap"):
        bloom_join(
            x, y, on="id", how="inner", engine="native", force_prefilter=True,
        )


def test_native_engine_probe_drift_falls_back(spark, monkeypatch):
    """Private-API drift AFTER a successful build (probe-side Column
    construction raises) also degrades to the sketch engine instead of
    raising out of bloom_join."""
    import importlib

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")

    def boom(*a, **kw):
        raise RuntimeError("ExpressionUtils moved")

    monkeypatch.setattr(bj, "_native_might_contain", boom)
    monkeypatch.setattr(bj, "_native_fallback_warned", False)
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    with pytest.warns(UserWarning, match="native bloom engine unavailable"):
        got, rep = bloom_join(
            x, y, on="id", how="inner", engine="native", force_prefilter=True,
            return_report=True,
        )
        assert_df_equal(got, x.join(y, "id", "inner"))
    assert rep.engine == "bloom" and rep.used_prefilter
    assert "ExpressionUtils moved" in rep.engine_fallback_reason


def test_auto_mode_native_fallback_is_observable(spark, monkeypatch):
    """VERDICT r4 #3: engine='auto' degrading to the sketch engine on
    private-API drift must be OBSERVABLE — every affected report carries
    engine_fallback_reason, and the session warns exactly once (not per
    call, not zero times)."""
    import importlib
    import warnings as W

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")

    def boom(*a, **kw):
        raise RuntimeError("simulated Spark upgrade drift")

    monkeypatch.setattr(bj, "_native_build_filter", boom)
    monkeypatch.setattr(bj, "_native_fallback_warned", False)
    # a large build side: only there does the native engine build in Spark
    monkeypatch.setattr(bj, "_SMALL_BUILD_ROWS", 100)
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)

    # call 1 (auto dispatches native): warns once, reason recorded
    with pytest.warns(UserWarning, match="native bloom engine unavailable"):
        got, rep = bloom_join(
            x, y, on="id", how="inner", force_prefilter=True,
            collect_metrics=False, return_report=True,
        )
        assert_df_equal(got, x.join(y, "id", "inner"))
    assert rep.engine == "bloom" and rep.used_prefilter
    assert "simulated Spark upgrade drift" in rep.engine_fallback_reason

    # call 2: no second warning, but the report still carries the reason
    with W.catch_warnings():
        W.simplefilter("error", UserWarning)
        got2, rep2 = bloom_join(
            x, y, on="id", how="inner", force_prefilter=True,
            collect_metrics=False, return_report=True,
        )
        assert_df_equal(got2, x.join(y, "id", "inner"))
    assert "simulated Spark upgrade drift" in rep2.engine_fallback_reason

    # a successful native run leaves the field None
    monkeypatch.undo()
    _, rep3 = bloom_join(
        x, y, on="id", how="inner", force_prefilter=True,
        collect_metrics=False, return_report=True,
    )
    assert rep3.engine == "native" and rep3.engine_fallback_reason is None


def test_native_engine_rejects_checkpoint(spark):
    x = spark.range(0, 100)
    y = spark.range(0, 10)
    with pytest.raises(ValueError, match="checkpoint_dir"):
        bloom_join(x, y, on="id", engine="native", checkpoint_dir="/tmp/nope")


def _bj_module():
    # importlib, not `from bloomjoin_spark.operators import bloom_join`:
    # the package re-exports the bloom_join FUNCTION under that name
    import importlib

    return importlib.import_module("bloomjoin_spark.operators.bloom_join")


def test_small_build_side_sizes_in_one_job(spark):
    """An unhinted sketch-engine call over a small build side runs ONE
    Spark job before it returns: the bounded collect both sizes the
    filter exactly and feeds its driver-side build (no cache job, no
    approximate-distinct pass, no per-partition Python build stage)."""
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    sc = spark.sparkContext
    group = "small_build_side_jobs"
    sc.setJobGroup(group, group)
    try:
        got, rep = bloom_join(
            x, y, on="id", engine="bloom", force_prefilter=True,
            return_report=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert rep.engine == "bloom" and rep.used_prefilter
    assert (rep.build_partitions, rep.merge_rounds) == (1, 0)
    assert rep.n_build == rep.build_distinct_estimate == 800
    assert_df_equal(got, x.join(y, "id", "inner"))


@pytest.mark.parametrize("stats_known", [True, False])
def test_large_build_side_keeps_distributed_lane(spark, monkeypatch, stats_known):
    """Above ``_SMALL_BUILD_ROWS`` the distributed lane runs: skipped for
    free when plan stats know the row count, after the bounded collect
    overflows when they do not.  Output stays the plain join."""
    bj = _bj_module()
    monkeypatch.setattr(bj, "_SMALL_BUILD_ROWS", 100)
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800, 1, 3)  # a bare Range knows its row count
    if not stats_known:
        y = y.filter(F.col("id") % 2 == 0)
    got, rep = bloom_join(
        x, y, on="id", engine="bloom", force_prefilter=True, return_report=True
    )
    assert rep.build_partitions == y.rdd.getNumPartitions() == 3
    assert rep.n_build == y.count()
    assert_df_equal(got, x.join(y, "id", "inner"))


@pytest.mark.parametrize("n_keys", [100, 30_000])
def test_small_build_side_distinct_count_is_exact(spark, n_keys):
    """100k build rows over ``n_keys`` keys: the bounded collect counts
    the distinct keys exactly (an HLL estimate is off at 30k keys), so
    the filter is sized for exactly ``n_keys``."""
    x = spark.range(0, 5000).withColumn("vx", F.col("id"))
    y = spark.range(0, 100_000).select((F.col("id") % n_keys).alias("id"))
    _, rep = bloom_join(
        x, y, on="id", how="inner", force_prefilter=True, return_report=True,
        prefilter_side="x",
    )
    assert rep.n_build == 100_000
    assert rep.build_distinct_estimate == n_keys


def test_native_cap_checked_before_build(spark, monkeypatch):
    """A filter predicted above the plan-literal cap never runs the
    native build: the call goes straight to the sketch engine and
    records the prediction."""
    bj = _bj_module()
    calls = []
    real_build = bj._native_build_filter

    def spy(*a, **kw):
        calls.append(a)
        return real_build(*a, **kw)

    monkeypatch.setattr(bj, "_native_build_filter", spy)
    monkeypatch.setattr(bj, "_NATIVE_FILTER_CAP_BYTES", 64)
    monkeypatch.setattr(bj, "_native_fallback_warned", False)
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    with pytest.warns(UserWarning, match="plan-literal cap"):
        got, rep = bloom_join(
            x, y, on="id", engine="native", force_prefilter=True,
            return_report=True,
        )
    assert calls == []
    assert rep.engine == "bloom" and rep.used_prefilter
    assert "predicted native filter" in rep.engine_fallback_reason
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_native_clamp_predicted_before_build(spark, monkeypatch):
    """A Spark build that ``runtime.bloomFilter.maxNumBits`` would clamp
    never runs: the call falls back to the sketch engine, records why,
    and builds the filter at the size its fpp asks for."""
    from bloomjoin_spark.sketches.bloom import bloom_sizing

    bj = _bj_module()
    calls = []
    real_build = bj._native_build_filter
    monkeypatch.setattr(bj, "_native_build_filter",
                        lambda *a: calls.append(a) or real_build(*a))
    monkeypatch.setattr(bj, "_SMALL_BUILD_ROWS", 100)
    monkeypatch.setattr(bj, "_native_fallback_warned", False)
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    conf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    spark.conf.set(conf, "4096")  # Spark's own size for 800 keys is 7,680 bits
    try:
        with pytest.warns(UserWarning, match="would clamp"):
            got, rep = bloom_join(
                x, y, on="id", engine="native", force_prefilter=True,
                n_hint={"y": 800}, return_report=True,
            )
    finally:
        spark.conf.unset(conf)
    assert calls == []
    assert rep.engine == "bloom" and rep.used_prefilter
    assert "maxNumBits=4,096" in rep.engine_fallback_reason
    assert rep.filter_bits == bloom_sizing(800, 0.01)[0] > 4096
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_native_filter_size_prediction_matches_spark(spark):
    """The pre-build prediction is the serialized size Spark produces."""
    bj = _bj_module()
    keyed = spark.range(0, 1_000).select(F.xxhash64("id").alias("__bj_key64"))
    for n, fpp in [(16, 0.01), (1_000, 0.01), (50_000, 1e-4)]:
        blob = bj._native_build_filter(keyed, n, fpp)
        assert bj._native_filter_bytes(spark, n, fpp) == len(blob)


def test_sizing_persist_released_when_build_raises(spark, monkeypatch):
    """The distributed lane's sizing persist is released even when the
    sketch build raises."""
    bj = _bj_module()

    def boom(*a, **kw):
        raise RuntimeError("build failed")

    monkeypatch.setattr(bj, "_SMALL_BUILD_ROWS", 100)
    monkeypatch.setattr(bj, "build_sketch", boom)
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="build failed"):
        bloom_join(x, y, on="id", engine="bloom", force_prefilter=True)
    assert jsc.getPersistentRDDs().size() == before


def test_spark_bytes_match_jvm_bloom_filter(spark):
    """The sketch layout IS Spark's BloomFilterImplV2: a sketch's
    ``to_spark_bytes`` equals the JVM ``BloomFilter.create(n, m)`` +
    ``putLong`` bytes over the same keys, and ``contains_hashes`` equals
    ``mightContainLong``."""
    import numpy as np

    from bloomjoin_spark.sketches import BloomSketch

    rng = np.random.default_rng(11)
    keys = rng.integers(-(2**63), 2**63 - 1, 2_000, dtype=np.int64)
    bf = BloomSketch(2_000, 0.01)
    bf.update_hashes(keys.view(np.uint64))
    jbf = spark.sparkContext._jvm.org.apache.spark.util.sketch.BloomFilter.create(
        2_000, bf.m
    )
    for k in keys.tolist():
        jbf.putLong(k)
    bos = spark.sparkContext._jvm.java.io.ByteArrayOutputStream()
    jbf.writeTo(bos)
    assert bytes(bos.toByteArray()) == bf.to_spark_bytes()
    probe = np.concatenate([keys[:200], rng.integers(-(2**63), 2**63 - 1, 800)])
    got = bf.contains_hashes(probe.view(np.uint64))
    assert got.tolist() == [jbf.mightContainLong(v) for v in probe.tolist()]


@pytest.mark.parametrize("n, fpp", [(957, 1e-4), (3_001, 0.03), (1, 0.5), (3_720_000, 1e-4)])
def test_spark_sized_driver_build_matches_jvm_create(spark, n, fpp):
    """A driver filter of Spark's own size (``BloomSketch.spark_sized``)
    serializes to the bytes of the JVM ``BloomFilter.create(n, fpp)``
    over the same keys, also above the 2^26 bits where ``stat.bloomFilter``
    clamps its filter (the last case, 71.3M bits)."""
    import numpy as np

    from bloomjoin_spark.sketches import BloomSketch

    keys = np.random.default_rng(n).integers(-(2**63), 2**63 - 1, min(n, 2_000), dtype=np.int64)
    sk = BloomSketch.spark_sized(n, fpp)
    sk.update_hashes(keys.view(np.uint64))
    jvm = spark.sparkContext._jvm
    jbf = jvm.org.apache.spark.util.sketch.BloomFilter.create(n, fpp)
    for k in keys.tolist():
        jbf.putLong(k)
    bos = jvm.java.io.ByteArrayOutputStream()
    jbf.writeTo(bos)
    assert bytes(bos.toByteArray()) == sk.to_spark_bytes()
    if n < 4_000:  # under the clamp, the native engine builds the same bytes
        keyed = spark.createDataFrame([(int(k),) for k in keys], "__bj_key64 bigint")
        assert _bj_module()._native_build_filter(keyed, n, fpp) == sk.to_spark_bytes()


def test_hinted_small_native_call_runs_one_job(spark):
    """A hinted native call over a small build side runs exactly ONE job
    before it returns: the bounded collect, then a driver build — no
    two-job stat.bloomFilter."""
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    sc = spark.sparkContext
    group = "hinted_small_native_jobs"
    sc.setJobGroup(group, group)
    try:
        got, rep = bloom_join(
            x, y, on="id", force_prefilter=True, collect_metrics=False,
            n_hint={"y": 800}, return_report=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert rep.engine == "native" and rep.used_prefilter
    assert (rep.n_build, rep.build_distinct_estimate) == (800, 800)
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_native_large_lane_selectivity_check_on_driver(spark, monkeypatch):
    """A Spark-built filter (stat.bloomFilter, m not a power of two) is
    loaded on the driver for the sampled selectivity check; full overlap
    still skips the prefilter, and the skipped call reports no engine."""
    bj = _bj_module()
    monkeypatch.setattr(bj, "_SMALL_BUILD_ROWS", 100)
    calls = []
    real = bj.BloomSketch.from_spark_bytes

    def spy(blob):
        calls.append(len(blob))
        return real(blob)

    monkeypatch.setattr(bj.BloomSketch, "from_spark_bytes", spy)
    x = spark.range(0, 20_000).withColumn("vx", F.col("id"))
    y = spark.range(0, 20_000).withColumn("vy", F.col("id"))
    with _no_broadcast_gate(spark):
        got, rep = bloom_join(
            x, y, on="id", how="inner", engine="native", return_report=True
        )
    assert len(calls) == 1
    assert not rep.used_prefilter and rep.engine == "none"
    assert any("expected reduction" in r for r in rep.skip_reasons)
    assert_df_equal(got, x.join(y, "id", "inner"))


def test_skipped_prefilter_reports_engine_none(spark):
    """No filter ran, so no engine is reported."""
    x = spark.range(0, 200_000).withColumn("vx", F.col("id"))
    y = spark.range(0, 1000).withColumn("vy", F.col("id"))
    _, rep = bloom_join(x, y, on="id", how="inner", return_report=True)
    assert not rep.used_prefilter and rep.engine == "none"


def test_observation_state_does_not_grow(spark):
    """20 metric-collecting calls, each consumed and finalized, leave no
    pending Observation in the session and add no listener (earlier
    tests may leave both counts above zero, or drop a listener)."""
    jsess = spark._jsparkSession
    om = jsess.observationManager()
    field = om.getClass().getDeclaredField("observations")
    field.setAccessible(True)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    x = spark.range(0, 4_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(1_000, 1_400).withColumn("vy", F.col("id") * 3)
    before = (field.get(om).size(), bus.listeners().size())
    for _ in range(20):
        got, rep = bloom_join(x, y, on="id", force_prefilter=True, return_report=True)
        assert got.count() == 400
        assert rep.finalize().probe_rows_before == 4_000
    assert field.get(om).size() <= before[0]
    assert bus.listeners().size() <= before[1]


def test_sketch_engine_probe_drift_uses_pandas_probe(spark, monkeypatch):
    """Private-API drift in the codegen probe also degrades the sketch
    engine, to the broadcast pandas probe, and the report records it."""
    bj = _bj_module()

    def boom(*a, **kw):
        raise RuntimeError("ExpressionUtils moved")

    monkeypatch.setattr(bj, "_native_might_contain", boom)
    monkeypatch.setattr(bj, "_native_fallback_warned", True)  # already warned
    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.range(4_000, 4_800).withColumn("vy", F.col("id") * 3)
    got, rep = bloom_join(
        x, y, on="id", engine="bloom", force_prefilter=True, return_report=True
    )
    assert rep.engine == "bloom" and rep.used_prefilter
    assert "ExpressionUtils moved" in rep.engine_fallback_reason
    assert "ArrowEvalPython" in got._jdf.queryExecution().executedPlan().toString()
    assert_df_equal(got, x.join(y, "id", "inner"))
    assert rep.finalize().probe_rows_before == 8_000


# ---------------------------------------------------------------------------
# every membership test outside codegen, pinned: the above-cap Bloom probe
# (bloom_join's contains, decontam's any_in), the history-filter probe, the
# exact-set probe of decontaminate_stream, the per-file index probe, and
# the history-filter build
# ---------------------------------------------------------------------------

PYTHON_PROBE_DIGESTS = {
    "bloom_join_contains": "fcee49e5d8715ce2b59e38de971c310c92d86868044b9a3e8e10fabea285752f",
    "decontam_any_in": "083c8a856d09a1d80143d9c38add69122db0048350aa0bf01e91d84869100f28",
    "incremental_dedup_filter": "0fb00acb0cca92d1ff76568f0f5c9399ff0a0335f103537ed9e349eaff24b534",
    "decontaminate_stream_flag": "b3deab7dca1fa24c9b23bb36533447e6f6dcba0c4f0ab4d756cd7bb9a48cd79d",
    "read_bloom_indexed": "543fd67ece6b27f8a85ff72f39df666da1d92eed2e656af385b42c5b439899dd",
    "history_filter_unhinted": "747831ea55690f4994a309ec2235f867dd8ce70107df5885cc39fdd184a28e91",
    "history_filter_hinted": "9bc9d3e4aa530071be9f44582e38d8cb565f92221c766ce7546023b595cc85d6",
    "history_filter_empty": "c6ba2fb6f944c8a798954b57520a9d420fb62aaf0f9fb148f76bb0165e956b75",
}


def _texts(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string").repartition(3)


def _token_docs(spark):
    """Three partitions of token arrays, with NULL and empty rows."""
    rows = [(i, [i % 11, (i * 3) % 11, i % 5, 7, i % 13]) for i in range(40)]
    rows += [(100, None), (101, []), (102, [2, 3]), (103, [4, 9, 2, 3, 4])]
    return spark.createDataFrame(rows, "doc_id bigint, tokens array<int>").repartition(3)


def _probe_call(spark, site, tmp):
    """One call of ``site``: ``(out, finish)``, the frame whose plan
    carries the probe (None for a filter build) and ``finish()``, which
    consumes it and returns the result rows."""
    from bloomjoin_spark.operators import (
        IncrementalDedupReport,
        build_history_filter,
        contaminated_docs,
        incremental_dedup,
    )
    from bloomjoin_spark.sources import read_bloom_indexed, write_bloom_indexed
    from bloomjoin_spark.streaming import decontaminate_stream

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    history = _texts(spark, [(i, f"Doc {i % 150}  ") for i in range(200)])
    if site == "bloom_join_contains":
        x = spark.range(0, 3_000, 1, 3).withColumn("vx", F.col("id") * 2)
        y = spark.range(1_500, 1_900, 1, 2).withColumn("vy", F.col("id") % 7)
        out, rep = bloom_join(
            x, y, on="id", engine="bloom", force_prefilter=True, return_report=True
        )

        def finish():
            got = rows(out)
            rep.finalize()
            return got + [(rep.engine, rep.used_prefilter, rep.filter_bits,
                           rep.filter_hashes, rep.probe_rows_before,
                           rep.probe_rows_after)]

        return out, finish
    if site == "decontam_any_in":
        bench = spark.createDataFrame(
            [(900, [7, 3, 9]), (901, [2, 3, 4]), (902, None)],
            "doc_id bigint, tokens array<int>",
        )
        out, rep = contaminated_docs(
            _token_docs(spark), bench, n=3, engine="bloom", return_report=True
        )
        return out, lambda: rows(out) + [(rep.engine, rep.n_bench_ngrams, rep.filter_bits)]
    if site == "incremental_dedup_filter":
        bf = build_history_filter(history, n_hint=300)
        batch = _texts(
            spark,
            [(1_000 + i, f"doc {i}") for i in range(140, 170)]
            + [(2_000, "doc 160"), (2_001, "  DOC 5"), (2_002, "new one")],
        )
        rep = IncrementalDedupReport()
        out = incremental_dedup(batch, history, history_filter=bf, report=rep)
        return out, lambda: rows(out) + [
            tuple(getattr(rep, f) for f in (
                "n_batch", "n_within_dups", "n_definite_new", "n_candidates",
                "n_cross_dups", "filter_provided", "engine", "engine_fallback_reason",
            ))
        ]
    if site == "decontaminate_stream_flag":
        bench = spark.createDataFrame(
            [([7, 3, 9],), ([2, 3, 4],), (None,)], "tokens array<int>"
        )
        out = decontaminate_stream(_token_docs(spark), bench, n=3, mode="flag")
        return out, lambda: rows(out)
    if site == "read_bloom_indexed":
        path = f"{tmp}/indexed"
        kv = spark.range(0, 600).selectExpr("concat('k', id) AS k", "id AS v")
        write_bloom_indexed(kv, path, key="k", num_files=4)
        stats = {}
        out = read_bloom_indexed(
            spark, path, "k", ["k3", "k77", "k599", "absent"], skip_report=stats
        )
        return out, lambda: rows(out) + [tuple(sorted(stats.items()))]
    n_hint = {"history_filter_hinted": 500}.get(site)
    if site == "history_filter_empty":
        history = history.where(F.lit(False))
    bf = build_history_filter(history, fpp=1e-3, n_hint=n_hint)
    return None, lambda: [bf.to_bytes()]


#: sites whose Bloom filter is pushed above the codegen cap
_ABOVE_CAP = ("bloom_join_contains", "decontam_any_in")


def python_probe_results(spark, sites=tuple(PYTHON_PROBE_DIGESTS)):
    """``{site: (sha256 of its result rows, python eval operators)}``
    under seven-row Arrow batches.  The operators are the
    ``ArrowEvalPython`` and ``BatchEvalPython`` nodes of the call's
    output plan and of every frame the call itself collects or
    checkpoints (the history and index probes run there); None for a
    filter build."""
    import contextlib
    import hashlib
    import importlib
    import tempfile

    from bloomjoin_spark.plans import plan_audit

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")
    frame = type(spark.range(0))
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch, old_cap = spark.conf.get(conf), bj._NATIVE_FILTER_CAP_BYTES
    seen: list = []

    def audited(name):
        real = getattr(frame, name)

        def call(self, *a, **kw):
            seen.extend(_eval_python(plan_audit(self)))
            return real(self, *a, **kw)

        return real, call

    out = {}
    spark.conf.set(conf, "7")
    try:
        with tempfile.TemporaryDirectory() as tmp:
            for site in sites:
                seen.clear()
                bj._NATIVE_FILTER_CAP_BYTES = 8 if site in _ABOVE_CAP else old_cap
                with contextlib.ExitStack() as stack:
                    for name in ("collect", "localCheckpoint"):
                        real, call = audited(name)
                        setattr(frame, name, call)
                        stack.callback(setattr, frame, name, real)
                    df, finish = _probe_call(spark, site, tmp)
                ops = None if df is None else seen + _eval_python(plan_audit(df))
                res = finish()
                out[site] = (hashlib.sha256(repr(res).encode()).hexdigest(), ops)
    finally:
        spark.conf.set(conf, old_batch)
        bj._NATIVE_FILTER_CAP_BYTES = old_cap
    return out


def _eval_python(audit) -> list:
    return [op for op in audit.python_operators if op == "ArrowEvalPython"] + [
        "BatchEvalPython"] * audit.n_row_python_udfs


@pytest.mark.parametrize("site", list(PYTHON_PROBE_DIGESTS))
def test_python_probe_results_unchanged(spark, site):
    """Every membership probe outside codegen returns the same rows and
    reports, each call plans exactly one vectorized Python probe (an
    ArrowEvalPython, never a BatchEvalPython), and the history filter
    builds the same bytes, with or without a size hint and over an
    empty history."""
    digest, ops = python_probe_results(spark, [site])[site]
    assert digest == PYTHON_PROBE_DIGESTS[site]
    if site.startswith("history_filter"):
        assert ops is None
    else:
        assert ops == ["ArrowEvalPython"]


@pytest.mark.parametrize("lane", ["small", "distributed"])
def test_incremental_dedup_filter_lanes_match_probe_digest(spark, monkeypatch, lane):
    """Over cached inputs (a known plan size, so the small lane's gate
    passes) the provided-filter lane keeps its pinned rows and report in
    both lanes (the distributed one forced by row bounds of 0).  Only the distributed lane plans the pandas history probe: the
    small lane probes the filter on the driver."""
    import sys

    mod = sys.modules[__name__]
    real = mod._texts

    def cached(spark, rows):
        df = real(spark, rows).persist()
        df.count()
        return df

    monkeypatch.setattr(mod, "_texts", cached)
    if lane == "distributed":
        import importlib

        dd = importlib.import_module("bloomjoin_spark.operators.dedup")
        monkeypatch.setattr(dd, "_SMALL_DEDUP_ROWS", 0)
        monkeypatch.setattr(_bj_module(), "_SMALL_BUILD_ROWS", 0)
    site = "incremental_dedup_filter"
    digest, ops = python_probe_results(spark, [site])[site]
    assert digest == PYTHON_PROBE_DIGESTS[site]
    assert ops == ([] if lane == "small" else ["ArrowEvalPython"])


def test_small_build_side_of_unknown_size_built_on_driver(spark):
    """A build side whose plan size is unknown (a Python-local frame)
    is cached and counted in one job; a count under the small-lane
    bound brings its keys back from the cache for a driver build.  So a
    sketch-engine call runs 2 jobs before it returns, no frame it
    collects holds a Python operator (no ``MapInArrow`` build stage, no
    tree-merge collect), and the distinct count is exact."""
    import contextlib

    from bloomjoin_spark.plans import plan_audit

    x = spark.range(0, 8_000).withColumn("vx", F.col("id") * 2)
    y = spark.createDataFrame(
        [(i, i % 7) for i in range(4_000, 4_800)] + [(4_000, 1)], "id long, vy long"
    )
    frame, seen = type(x), []
    with contextlib.ExitStack() as stack:
        for name in ("collect", "toArrow", "toPandas"):
            real_fn = getattr(frame, name)

            def call(self, *a, _real=real_fn, **kw):
                seen.extend(plan_audit(self).python_operators)
                return _real(self, *a, **kw)

            setattr(frame, name, call)
            stack.callback(setattr, frame, name, real_fn)
        (got, rep), n_jobs = tagged_jobs(spark, lambda: bloom_join(
            x, y, on="id", engine="bloom", prefilter_side="x", force_prefilter=True,
            return_report=True,
        ))
    assert n_jobs == 2
    assert seen == []
    assert (rep.engine, rep.build_partitions, rep.merge_rounds) == ("bloom", 1, 0)
    assert (rep.n_build, rep.build_distinct_estimate) == (801, 800)
    assert_df_equal(got, x.join(y, "id", "inner"))


#: Spark jobs of one sizing or history-filter build call, counted by
#: session tag
MATERIALIZE_JOBS = {
    "size_build_distributed": 1,
    "history_filter_unhinted": 4,
    "history_filter_hinted": 1,
    "history_filter_empty": 2,
}


def materialize_jobs(spark, site):
    """Jobs of one ``site`` call: ``_size_build``'s distributed lane
    (``driver_build=False``, so no exact collect) or one
    ``build_history_filter`` lane of ``_probe_call``."""
    from bloomjoin_spark.operators import build_history_filter

    bj = _bj_module()
    if site == "size_build_distributed":
        build = spark.range(0, 3_000, 1, 3).where(F.col("id") % 3 != 1)
        keyed = build.select(F.xxhash64("id").alias("__bj_key64"))
        res, n = tagged_jobs(spark, lambda: bj._size_build(keyed, None, driver_build=False))
        assert res[1] == 2_000 and res[4] is None
        res[0].unpersist()
        return n
    history = _texts(spark, [(i, f"Doc {i % 150}  ") for i in range(200)])
    if site == "history_filter_empty":
        history = history.where(F.lit(False))
    n_hint = 500 if site == "history_filter_hinted" else None
    return tagged_jobs(spark, lambda: build_history_filter(history, fpp=1e-3, n_hint=n_hint))[1]


@pytest.mark.parametrize("site", list(MATERIALIZE_JOBS))
def test_materialize_jobs_per_call(spark, site):
    """The distributed sizing lane counts its build side in the job that
    caches it, so no call pays a separate aggregate job.  A count that
    differs is taken again (adaptive execution now and then runs one
    more stage job) and the fewer of the two must match."""
    n = materialize_jobs(spark, site)
    if n != MATERIALIZE_JOBS[site]:
        n = min(n, materialize_jobs(spark, site))
    assert n == MATERIALIZE_JOBS[site]
