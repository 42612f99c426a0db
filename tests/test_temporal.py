"""Sessionization + as-of join (operators/temporal.py).

Differential semantics vs hand-computed expectations, plus the plan
contracts the module claims: ONE exchange per operator, no join
operator in the as-of plan, and no second exchange in session_stats.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bloomjoin_spark.operators.temporal import asof_join, session_stats, sessionize
from conftest import n_exchanges

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(sec):
    return T0 + dt.timedelta(seconds=sec)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1: three events in one session, then a gap, then two more
        (1, 1, _ts(0)), (2, 1, _ts(100)), (3, 1, _ts(250)),
        (4, 1, _ts(2000)), (5, 1, _ts(2100)),
        # user 2: single event
        (6, 2, _ts(50)),
        # user 3: every event its own session
        (7, 3, _ts(0)), (8, 3, _ts(5000)), (9, 3, _ts(10000)),
    ]
    return spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp"
    )


def test_sessionize_gap_semantics(events):
    out = sessionize(events, "user_id", "ts", gap_sec=600,
                     order_cols=["event_id"])
    got = {r.event_id: (r.session_id_seq, r.session_id)
           for r in out.collect()}
    assert got[1] == (1, "1#1") and got[2] == (1, "1#1") and got[3] == (1, "1#1")
    assert got[4] == (2, "1#2") and got[5] == (2, "1#2")
    assert got[6] == (1, "2#1")
    assert got[7][0] == 1 and got[8][0] == 2 and got[9][0] == 3


def test_sessionize_boundary_is_strict(spark):
    # gap EXACTLY equal to gap_sec does NOT open a new session (> not >=)
    df = spark.createDataFrame(
        [(1, 1, _ts(0)), (2, 1, _ts(600)), (3, 1, _ts(1200.000001))],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    out = sessionize(df, "user_id", "ts", gap_sec=600, order_cols=["event_id"])
    seqs = [r.session_id_seq for r in out.orderBy("event_id").collect()]
    assert seqs == [1, 1, 2]


def test_session_stats_values(events):
    st = session_stats(events, "user_id", "ts", gap_sec=600,
                       order_cols=["event_id"])
    rows = {(r.user_id, r.session_id_seq): r for r in st.collect()}
    r = rows[(1, 1)]
    assert r.n_events == 3 and r.duration_sec == 250.0
    assert r.session_start == _ts(0) and r.session_end == _ts(250)
    assert rows[(1, 2)].n_events == 2
    assert rows[(2, 1)].duration_sec == 0.0
    assert len(rows) == 6


def test_sessionize_single_exchange(events):
    out = sessionize(events, "user_id", "ts", gap_sec=600)
    assert n_exchanges(out) == 1
    # the groupBy in session_stats reuses the window's hash partitioning
    st = session_stats(events, "user_id", "ts", gap_sec=600)
    assert n_exchanges(st) == 1


def test_sessionize_rejects_bad_gap(events):
    with pytest.raises(ValueError, match="gap_sec"):
        sessionize(events, gap_sec=0)


def _state(spark, rows):
    return spark.createDataFrame(rows, "user_id bigint, ts timestamp, v double")


def test_asof_backward_and_ties(spark, events):
    state = _state(spark, [
        (1, _ts(100), 10.0),   # exactly at event 2 → >= matches event 2
        (1, _ts(2050), 20.0),
        (3, _ts(9999), 30.0),
    ])
    out = asof_join(events, state, on="user_id", right_cols=["v"])
    got = {r.event_id: (r.ts_right, r.v_right) for r in out.collect()}
    assert got[1] == (None, None)            # before any state
    assert got[2] == (_ts(100), 10.0)        # tie: state AT ts matches
    assert got[3] == (_ts(100), 10.0)
    assert got[4] == (_ts(100), 10.0)        # 2000 < 2050: older state holds
    assert got[5] == (_ts(2050), 20.0)
    assert got[6] == (None, None)            # user 2 has no state
    assert got[9] == (_ts(9999), 30.0)
    assert out.count() == events.count()     # left join: every row kept


def test_asof_tolerance(spark, events):
    state = _state(spark, [(1, _ts(0), 1.0)])
    out = asof_join(events, state, on="user_id", right_cols=["v"],
                    tolerance_sec=150)
    got = {r.event_id: r.v_right for r in out.collect()}
    assert got[1] == 1.0 and got[2] == 1.0   # 0s and 100s old: within
    assert got[3] is None                    # 250s old: nulled, row kept
    assert got[4] is None


def test_asof_null_payload_fields_carry(spark, events):
    # a NEWER state row with a null field must win over an older
    # non-null one (the whole-struct carry, not per-column)
    state = _state(spark, [(1, _ts(0), 5.0), (1, _ts(50), None)])
    out = asof_join(events, state, on="user_id", right_cols=["v"])
    got = {r.event_id: (r.ts_right, r.v_right) for r in out.collect()}
    assert got[2] == (_ts(50), None)


def test_asof_plan_no_join_one_exchange(spark, events):
    state = _state(spark, [(1, _ts(0), 1.0)])
    out = asof_join(events, state, on="user_id", right_cols=["v"])
    assert n_exchanges(out) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # union+window, never a join operator


def test_asof_validates_keys(spark, events):
    state = _state(spark, [(1, _ts(0), 1.0)])
    with pytest.raises(ValueError, match="join key"):
        asof_join(events, state, on="nope", right_cols=["v"])
    with pytest.raises(ValueError, match="right_cols"):
        asof_join(events, state, on="user_id", right_cols=["missing"])


def test_asof_multi_key(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts(10)), (2, "b", _ts(10))],
        "event_id bigint, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("a", _ts(5), 1.0), ("b", _ts(6), 2.0), ("b", _ts(20), 3.0)],
        "k string, ts timestamp, v double",
    )
    out = asof_join(left, right, on=["k"], right_cols=["v"])
    got = {r.event_id: r.v_right for r in out.collect()}
    assert got == {1: 1.0, 2: 2.0}


def test_asof_ntz_timestamps(spark):
    # events.parquet carries TIMESTAMP_NTZ — the micros kernel must
    # accept both flavors without a session-zone shift
    left = spark.createDataFrame(
        [(1, 7, _ts(10))], "event_id bigint, user_id bigint, ts timestamp"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = spark.createDataFrame(
        [(7, _ts(4), 9.0)], "user_id bigint, ts timestamp, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = asof_join(left, right, on="user_id", right_cols=["v"])
    r = out.collect()[0]
    assert r.v_right == 9.0
    s = sessionize(left, "user_id", "ts", gap_sec=60)
    assert s.collect()[0].session_id_seq == 1


def test_output_column_collision_guards(spark, events):
    state = _state(spark, [(1, _ts(0), 1.0)])
    with pytest.raises(ValueError, match="already exist"):
        asof_join(events.withColumn("v_right", F.lit(1)), state,
                  on="user_id", right_cols=["v"])
    with pytest.raises(ValueError, match="__asof_"):
        asof_join(events.withColumn("__asof_x", F.lit(1)), state,
                  on="user_id", right_cols=["v"])
    with pytest.raises(ValueError, match="already exists"):
        sessionize(events.withColumn("session_id", F.lit("x")),
                   "user_id", "ts", gap_sec=60)


def test_sessionize_null_ts_excluded(spark):
    """NULL-timestamp events belong to no session: they are dropped,
    and they must NOT shift real session ordinals (each NULL row used
    to count as a phantom session opener via coalesce(NULL,1))."""
    rows = [
        (1, 1, _ts(0)), (2, 1, None), (3, 1, _ts(100)),
        (4, 1, None), (5, 1, _ts(5000)),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts timestamp")
    out = sessionize(df, "user_id", "ts", gap_sec=600).collect()
    assert sorted(r.event_id for r in out) == [1, 3, 5]
    seqs = {r.event_id: r.session_id_seq for r in out}
    assert seqs == {1: 1, 3: 1, 5: 2}


def test_asof_null_timestamps_never_match(spark):
    """DuckDB ASOF semantics: a NULL timestamp on either side never
    matches.  A NULL right_ts row used to sort NULLS-FIRST and be
    carried as the 'most recent prior' state for early left rows."""
    left = spark.createDataFrame(
        [(7, _ts(100)), (7, _ts(1000))], "user_id bigint, ts timestamp"
    )
    right = spark.createDataFrame(
        [(7, None, 42.0), (7, _ts(500), 7.0)],
        "user_id bigint, ts timestamp, value double",
    )
    got = {
        r.ts: r.value_right
        for r in asof_join(left, right, "user_id", right_cols=["value"]).collect()
    }
    assert got[_ts(100)] is None  # no real prior right row — not 42.0
    assert got[_ts(1000)] == 7.0
    # same contract with tolerance set (NULL arithmetic used to flip it)
    got_tol = {
        r.ts: r.value_right
        for r in asof_join(
            left, right, "user_id", right_cols=["value"], tolerance_sec=10_000
        ).collect()
    }
    assert got_tol == got
    # a NULL left_ts row gets NULL payload, and keeps its row
    left_null = spark.createDataFrame([(7, None)], "user_id bigint, ts timestamp")
    out = asof_join(left_null, right, "user_id", right_cols=["value"]).collect()
    assert len(out) == 1 and out[0].value_right is None
