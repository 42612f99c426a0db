"""t-digest and KLL tests: quantile/rank error bounds, merge-order
bound-compliance (not bit-equality — SURVEY.md hard parts), serde."""

import numpy as np
import pytest

from bloomjoin_spark.sketches import KllSketch, Sketch, TDigestSketch

QS = np.array([0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99])


def _rank_error(sketch, data, qs=QS):
    """max distance from q to the true rank-interval of the estimated
    quantile (tied values span [rank_left, rank_right])."""
    data_sorted = np.sort(data)
    est = sketch.quantile(qs)
    left = np.searchsorted(data_sorted, est, side="left") / data.size
    right = np.searchsorted(data_sorted, est, side="right") / data.size
    err = np.maximum(0.0, np.maximum(qs - right, left - qs))
    return float(err.max())


@pytest.mark.parametrize("dist", ["uniform", "normal", "lognormal", "zipfy"])
class TestTDigest:
    def _data(self, dist, n=200_000):
        rng = np.random.default_rng(13)
        if dist == "uniform":
            return rng.uniform(0, 1000, n)
        if dist == "normal":
            return rng.normal(0, 1, n)
        if dist == "lognormal":
            return rng.lognormal(0, 2, n)
        return rng.zipf(1.2, n).astype(np.float64)

    def test_single_sketch_bound(self, dist):
        data = self._data(dist)
        td = TDigestSketch(compression=200)
        td.update_values(data)
        assert _rank_error(td, data) <= 0.01

    def test_merge_order_invariance_within_bound(self, dist):
        data = self._data(dist)
        chunks = np.array_split(data, 16)
        rng = np.random.default_rng(5)
        for _ in range(3):
            order = rng.permutation(16)
            parts = []
            for i in order:
                t = TDigestSketch(200)
                t.update_values(chunks[i])
                parts.append(t)
            acc = parts[0]
            for p in parts[1:]:
                acc = acc.merge(p)
            assert acc.count == data.size
            assert _rank_error(acc, data) <= 0.015


class TestTDigestEdge:
    def test_extremes_exact(self):
        td = TDigestSketch(100)
        td.update_values(np.arange(10_000, dtype=np.float64))
        assert td.quantile(0.0) == 0.0
        assert td.quantile(1.0) == 9999.0

    def test_single_value(self):
        td = TDigestSketch(100)
        td.update_values(np.array([42.0]))
        assert td.quantile(0.5) == 42.0

    def test_empty(self):
        td = TDigestSketch(100)
        assert np.isnan(td.quantile(0.5))

    def test_nan_dropped(self):
        td = TDigestSketch(100)
        td.update_values(np.array([1.0, np.nan, 3.0]))
        assert td.count == 2

    def test_rank(self):
        td = TDigestSketch(200)
        td.update_values(np.arange(100_000, dtype=np.float64))
        assert abs(td.rank(50_000) - 0.5) < 0.01

    def test_serde(self):
        td = TDigestSketch(150)
        td.update_values(np.random.default_rng(3).normal(size=50_000))
        back = Sketch.from_bytes(td.to_bytes())
        assert isinstance(back, TDigestSketch)
        assert back.count == td.count
        assert np.allclose(back.quantile(QS), td.quantile(QS))

    def test_compression_mismatch(self):
        with pytest.raises(ValueError):
            TDigestSketch(100).merge(TDigestSketch(200))


class TestTDigestWeighted:
    """``update_values(v, weights=w)``: the token lanes' histogram
    ingest, held to the same bounds as per-instance ingest."""

    @staticmethod
    def _zipf_hist():
        rng = np.random.default_rng(21)
        data = (rng.zipf(1.3, 200_000) % 20_000).astype(np.float64)
        vals, cnt = np.unique(data, return_counts=True)
        return data, vals, cnt

    def test_weights_match_repeat(self):
        data, vals, cnt = self._zipf_hist()
        weighted = TDigestSketch(200)
        weighted.update_values(vals, weights=cnt)
        repeated = TDigestSketch(200)
        repeated.update_values(np.repeat(vals, cnt))
        for td in (weighted, repeated):
            assert (td.count, td.vmin, td.vmax) == (data.size, data.min(), data.max())
            assert _rank_error(td, data) <= 0.01

    def test_heavy_value_keeps_its_rank_run(self):
        # one bin holding most of the mass is cut into several centroids
        # of its exact value, so quantiles inside its rank run return it
        td = TDigestSketch(100)
        td.update_values(np.array([0.0, 1.0, 2.0]), weights=np.array([10, 10_000, 10]))
        assert list(td.quantile([0.01, 0.25, 0.5, 0.75, 0.99])) == [1.0] * 5
        assert td.means.size > 1

    def test_nan_drops_its_weight(self):
        td = TDigestSketch(100)
        td.update_values(np.array([1.0, np.nan, 3.0]), weights=np.array([2, 5, 1]))
        assert (td.count, td.vmin, td.vmax) == (3, 1.0, 3.0)
        assert td.quantile(0.25) == 1.0

    def test_zero_weight_is_not_a_value(self):
        td = TDigestSketch(100)
        td.update_values(np.array([-5.0, 2.0]), weights=np.array([0, 4]))
        assert (td.count, td.vmin, td.vmax) == (4, 2.0, 2.0)

    @pytest.mark.parametrize(
        "weights",
        [[1, -1, 1], [1, np.inf, 1], [1, np.nan, 1], [1, 1], [1, 1.5, 1]],
        ids=["negative", "inf", "nan", "length", "fractional"],
    )
    def test_bad_weights_raise(self, weights):
        td = TDigestSketch(100)
        with pytest.raises(ValueError):
            td.update_values(np.array([1.0, 2.0, 3.0]), weights=np.array(weights))
        assert td.count == 0

    def test_weighted_serde_and_merge_with_unweighted(self):
        data, vals, cnt = self._zipf_hist()
        weighted = TDigestSketch(200)
        weighted.update_values(vals, weights=cnt)
        back = Sketch.from_bytes(weighted.to_bytes())
        assert back.to_bytes() == weighted.to_bytes()
        assert back.count == data.size
        more = np.random.default_rng(4).uniform(0, 30_000, 50_000)
        plain = TDigestSketch(200)
        plain.update_values(more)
        merged = back.merge(plain)
        both = np.concatenate([data, more])
        assert (merged.count, merged.vmin, merged.vmax) == (
            both.size, both.min(), both.max()
        )
        assert _rank_error(merged, both) <= 0.015


@pytest.mark.parametrize("dist", ["uniform", "lognormal"])
class TestKll:
    def _data(self, dist, n=200_000):
        rng = np.random.default_rng(17)
        return (
            rng.uniform(0, 1e6, n)
            if dist == "uniform"
            else rng.lognormal(0, 3, n)
        )

    def test_single_sketch_bound(self, dist):
        data = self._data(dist)
        sk = KllSketch(k=200)
        sk.update_values(data)
        assert _rank_error(sk, data) <= sk.epsilon()

    def test_merge_order_within_bound(self, dist):
        data = self._data(dist)
        chunks = np.array_split(data, 12)
        rng = np.random.default_rng(6)
        for _ in range(3):
            order = rng.permutation(12)
            parts = []
            for i in order:
                s = KllSketch(k=200)
                s.update_values(chunks[i])
                parts.append(s)
            acc = parts[0]
            for p in parts[1:]:
                acc = acc.merge(p)
            assert acc.count == data.size
            assert _rank_error(acc, data) <= 1.5 * acc.epsilon()


class TestKllEdge:
    def test_extremes(self):
        sk = KllSketch(200)
        sk.update_values(np.arange(50_000, dtype=np.float64))
        assert sk.quantile(0.0) == 0.0
        assert sk.quantile(1.0) == 49_999.0

    def test_total_weight_preserved(self):
        sk = KllSketch(64)
        sk.update_values(np.arange(100_000, dtype=np.float64))
        _, w = sk._weighted_items()
        assert w.sum() == 100_000

    def test_serde(self):
        sk = KllSketch(128)
        sk.update_values(np.random.default_rng(9).uniform(size=30_000))
        back = Sketch.from_bytes(sk.to_bytes())
        assert isinstance(back, KllSketch)
        assert back.count == sk.count
        assert np.array_equal(back.quantile(QS), sk.quantile(QS))

    def test_k_mismatch(self):
        with pytest.raises(ValueError):
            KllSketch(100).merge(KllSketch(200))

    def test_empty(self):
        assert np.isnan(KllSketch(200).quantile(0.5))
