"""SpaceSaving top-k: invariants (counts never undercount, count−error
never overcounts, heavy hitters guaranteed), merge-order robustness,
serialization, and the Spark two-phase build (incl. token arrays and
the grouped path)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bloomjoin_spark.sketches import Sketch, TopKSketch


def _zipf_stream(n: int = 30_000, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    # planted heavy hitters on ids 0..4, long tail above
    heavy = rng.integers(0, 5, size=n // 2)
    tail = rng.integers(5, 5_000, size=n - n // 2)
    return np.concatenate([heavy, tail]).astype(np.float64)


def _true_counts(v: np.ndarray) -> dict[int, int]:
    vals, cnt = np.unique(v.astype(np.int64), return_counts=True)
    return dict(zip(vals.tolist(), cnt.tolist()))


def _check_invariants(sk: TopKSketch, truth: dict[int, int]):
    for item, count, err in sk.topk():
        t = truth.get(item, 0)
        assert t <= count, (item, t, count)
        assert count - err <= t, (item, t, count, err)


class TestTopKCore:
    def test_heavy_hitters_found_with_bounds(self):
        v = _zipf_stream()
        truth = _true_counts(v)
        sk = TopKSketch(64)
        sk.update_values(v)
        assert sk.total == v.size
        monitored = {i for i, _, _ in sk.topk()}
        for hot in range(5):  # each hot id holds ~10% of the stream
            assert hot in monitored
        _check_invariants(sk, truth)
        # ranking: the 5 planted hitters occupy the top 5 slots
        assert {i for i, _, _ in sk.topk()[:5]} == set(range(5))

    def test_exact_when_under_capacity(self):
        v = np.repeat(np.arange(10, dtype=np.float64), [5, 4, 3, 2, 1, 1, 1, 1, 1, 1])
        sk = TopKSketch(64)
        sk.update_values(v)
        got = {i: (c, e) for i, c, e in sk.topk()}
        for item, t in _true_counts(v).items():
            assert got[item] == (t, 0)

    def test_merge_preserves_invariants_and_heavies(self):
        v = _zipf_stream(40_000)
        truth = _true_counts(v)
        parts = np.array_split(v, 7)
        sks = []
        for p in parts:
            s = TopKSketch(64)
            s.update_values(p)
            sks.append(s)
        acc = sks[0]
        for s in sks[1:]:
            acc = acc.merge(s)
        assert acc.total == v.size
        _check_invariants(acc, truth)
        monitored = {i for i, _, _ in acc.topk()}
        for item, t in truth.items():
            if t > acc.guaranteed_min_frequency():
                assert item in monitored, (item, t)

    def test_rejects_imprecise_items(self):
        """ADVICE r3: items beyond 2^53 (or fractional) are rounded by
        the float64 value lane and silently conflate distinct heavy
        hitters — the sketch must raise, not corrupt."""
        sk = TopKSketch(8)
        with pytest.raises(ValueError, match="2\\^53"):
            sk.update_values(np.array([float(2**53) * 4], dtype=np.float64))
        with pytest.raises(ValueError, match="integer-valued"):
            sk.update_values(np.array([1.5], dtype=np.float64))
        # boundary: exactly 2^53 still round-trips
        sk.update_values(np.array([float(2**53), -float(2**53)], dtype=np.float64))
        assert sk.total == 2

    def test_batched_equals_merge_semantics(self):
        """The vectorized batch path IS the PODS'12 combine with an
        exact summary: feeding batches must match building a zero-error
        sketch per batch and merging."""
        v = _zipf_stream(20_000)
        parts = np.array_split(v, 6)
        a = TopKSketch(32)
        for p in parts:
            a.update_values(p)
        b = None
        for p in parts:
            s = TopKSketch(32)
            s.update_values(p)  # single batch = exact summary, pruned to k
            b = s if b is None else b.merge(s)
        # not bit-identical (a merges exact batch tables, b merges pruned
        # sketches) but both satisfy the bounds and find the heavies
        truth = _true_counts(v)
        _check_invariants(a, truth)
        _check_invariants(b, truth)
        heavies = {i for i, t in truth.items() if t > a.guaranteed_min_frequency()}
        assert heavies <= {i for i, _, _ in a.topk()}

    def test_merge_k_mismatch_raises(self):
        with pytest.raises(ValueError, match="different k"):
            TopKSketch(8).merge(TopKSketch(16))

    def test_roundtrip(self):
        sk = TopKSketch(16)
        sk.update_values(_zipf_stream(5_000))
        sk.add_null()
        back = Sketch.from_bytes(sk.to_bytes())
        assert isinstance(back, TopKSketch)
        assert back.topk() == sk.topk()
        assert back.total == sk.total and back.has_null


@settings(max_examples=30, deadline=None)
@given(
    data=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=400),
    n_parts=st.integers(min_value=1, max_value=5),
)
def test_property_merge_bounds(data, n_parts):
    """Any split/merge of any stream keeps both count bounds, and with
    k ≥ distinct items the counts are exact with zero error."""
    v = np.asarray(data, dtype=np.float64)
    truth = _true_counts(v)
    for k in (4, 64):
        parts = np.array_split(v, n_parts)
        acc = None
        for p in parts:
            s = TopKSketch(k)
            if p.size:
                s.update_values(p)
            acc = s if acc is None else acc.merge(s)
        _check_invariants(acc, truth)
        if k >= len(truth):
            got = {i: (c, e) for i, c, e in acc.topk()}
            assert got == {i: (c, 0) for i, c in truth.items()}


def test_spark_build_tokens_and_grouped(spark):
    """Two-phase Spark build over the token table: the F0 hot tokens
    surface in the top-k with valid bounds; the grouped path carries
    the sketch per source."""
    from pyspark.sql import functions as F

    from bloomjoin_spark import build_sketch, grouped_sketch_estimates
    from bloomjoin_spark.datagen import token_table

    df = token_table(spark, 30_000, vocab=2_000, max_tok=16, num_partitions=8)
    res = build_sketch(df, lambda: TopKSketch(128), token_col="tokens")
    exact = (
        df.select(F.explode("tokens").alias("t"))
        .groupBy("t").count().orderBy(F.desc("count"), "t").limit(10).toPandas()
    )
    truth = dict(zip(exact["t"].tolist(), exact["count"].tolist()))
    got = {i: (c, e) for i, c, e in res.sketch.topk()}
    for item, t in truth.items():
        if t > res.sketch.guaranteed_min_frequency():
            assert item in got
        if item in got:
            c, e = got[item]
            assert c - e <= t <= c
    # grouped path (extract= the top item id per source)
    per_src = grouped_sketch_estimates(
        df, lambda: TopKSketch(16), "source", token_col="tokens",
        extract=lambda s: float(s.topk()[0][0]),
    ).collect()
    assert len(per_src) == df.select("source").distinct().count()
