"""t-digest (Dunning & Ertl 2019, merging variant) — quantiles of
``n_tok`` / token-id distributions.

Centroid list (mean, weight); compression clusters sorted points by the
k1 scale function k(q) = (δ/2π)·asin(2q−1), which bounds each
centroid's k-span by 1 and concentrates resolution at the tails —
quantile error ≈ O(q(1−q)/δ).

The compress pass is fully vectorized: sort → cumulative weights →
k-values → cluster id = floor(k) → ``np.add.reduceat`` per cluster.

``update_values(v, weights=w)`` ingests a histogram: the token lanes
pass each batch's (distinct token id, count) pairs from the bincount
they already compute, so a batch of millions of token instances sorts
≤ vocab values. A weighted value is a point mass: compression cuts it
at the k boundaries its rank run spans (``_split_masses``), so it never
forms a centroid wider than one unit of k and quantiles inside its run
return it exactly, as with per-instance ingest.
Merge = concatenate centroid lists + recompress; merge order changes
centroid placement only within the published error bound (tests assert
bound compliance under permuted merges, not bit-equality — SURVEY.md
"hard parts").
"""

from __future__ import annotations

import struct

import numpy as np

from .base import Sketch


class TDigestSketch(Sketch):
    KIND = b"TDG1"
    CONSUMES = "values"
    #: ``update_values`` takes ``weights=``: the token lanes feed it the
    #: per-batch token-id histogram instead of every token instance
    SUPPORTS_WEIGHTS = True

    def __init__(self, compression: float = 200.0):
        if compression < 20:
            raise ValueError("compression must be ≥ 20")
        self.compression = float(compression)
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        # (values, weights or None for all-ones) awaiting compression
        self._buf: list[tuple[np.ndarray, np.ndarray | None]] = []
        self._buf_n = 0
        self.has_null = False
        self.count = 0
        self.vmin = np.inf
        self.vmax = -np.inf

    # -- build ---------------------------------------------------------
    def update_values(self, v: np.ndarray, weights: np.ndarray | None = None) -> None:
        """Add the values ``v``. ``weights`` gives each value's
        multiplicity (whole, finite, ≥ 0), so a histogram ``(values,
        counts)`` ingests as ``np.repeat(values, counts)`` would, with
        one centroid candidate per distinct value instead of one per
        instance. A NaN value is dropped with its weight."""
        v = np.asarray(v)
        if weights is not None:
            w = np.asarray(weights, dtype=np.float64)
            if w.shape != v.shape:
                raise ValueError(
                    f"weights shape {w.shape} does not match values shape {v.shape}"
                )
            if not (np.isfinite(w).all() and (w >= 0).all() and (w == np.floor(w)).all()):
                raise ValueError("weights must be finite, non-negative whole numbers")
            keep = w > 0
            if np.issubdtype(v.dtype, np.floating):
                keep &= ~np.isnan(v)
            v, w = v[keep], w[keep]
        else:
            w = None
            if np.issubdtype(v.dtype, np.floating):
                v = v[~np.isnan(v)]
        if v.size == 0:
            return
        v = v.astype(np.float64, copy=False)
        self.count += int(v.size) if w is None else int(w.sum())
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        self._buf.append((v, w))
        self._buf_n += v.size
        if self._buf_n >= 8192:
            self._compress()

    def add_null(self) -> None:
        self.has_null = True

    # -- compression (vectorized) ---------------------------------------
    def _compress(self, force: bool = False) -> None:
        if not force and self._buf_n == 0 and self.means.size <= self.compression * 2:
            return
        mass = None
        if self._buf:
            means = np.concatenate([self.means, *(v for v, _ in self._buf)])
            weights = np.concatenate(
                [self.weights, *(np.ones(v.size) if w is None else w for v, w in self._buf)]
            )
            if any(w is not None for _, w in self._buf):
                # a weighted value is a point mass: a histogram bin
                mass = np.concatenate(
                    [np.zeros(self.means.size, bool)]
                    + [np.zeros(v.size, bool) if w is None else w > 1 for v, w in self._buf]
                )
            self._buf, self._buf_n = [], 0
        else:
            means, weights = self.means, self.weights
        order = np.argsort(means, kind="stable")
        means, weights = means[order], weights[order]
        total = weights.sum()
        if mass is not None:
            means, weights = self._split_masses(means, weights, mass[order], total)
        # k1 scale: k(q) = (δ/2π)·asin(2q−1); cluster id = floor(k) at
        # each point's mid-quantile
        cum = np.cumsum(weights) - weights * 0.5
        q = cum / total
        k = (self.compression / (2 * np.pi)) * np.arcsin(2 * q - 1)
        cluster = np.floor(k).astype(np.int64)
        # boundaries where cluster id changes
        starts = np.flatnonzero(np.diff(cluster, prepend=cluster[0] - 1))
        wsum = np.add.reduceat(weights, starts)
        msum = np.add.reduceat(means * weights, starts)
        self.means = msum / wsum
        self.weights = wsum

    def _split_masses(self, means, weights, mass, total):
        """Cut each point mass (sorted, flagged by ``mass``) at the
        integer k boundaries its rank interval spans. A heavy value
        added with one weight would otherwise be one centroid wider than
        a unit of k, and ``quantile`` would interpolate across its whole
        rank run; cut, its pieces fall in consecutive clusters with its
        exact value, as its instances do when added one by one."""
        scale = self.compression / (2 * np.pi)
        hi = np.cumsum(weights)

        def k_floor(rank):
            return np.floor(scale * np.arcsin(np.clip(2 * rank / total - 1, -1.0, 1.0)))

        k_lo = k_floor(hi - weights)
        cuts = np.where(mass, k_floor(hi) - k_lo, 0).astype(np.int64)
        if not cuts.any():
            return means, weights
        reps = cuts + 1
        owner = np.repeat(np.arange(means.size), reps)
        j = np.arange(owner.size) - np.repeat(np.cumsum(reps) - reps, reps)
        # rank at each piece's upper end: the next k boundary, or the
        # point's own end for its last piece
        bound = total * (np.sin((k_lo[owner] + 1 + j) / scale) + 1) / 2
        upper = np.where(j < cuts[owner], bound, hi[owner])
        lower = np.where(j == 0, hi[owner] - weights[owner], np.roll(upper, 1))
        w = np.where(cuts[owner] == 0, weights[owner], upper - lower)
        keep = w > 0
        return means[owner][keep], w[keep]

    # -- merge ---------------------------------------------------------
    def merge(self, other: "TDigestSketch") -> "TDigestSketch":
        if other.compression != self.compression:
            raise ValueError("cannot merge t-digests of different compression")
        other._compress()
        self._compress()
        self.means = np.concatenate([self.means, other.means])
        self.weights = np.concatenate([self.weights, other.weights])
        self.count += other.count
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        self.has_null |= other.has_null
        # force: concatenated centroid lists are not sorted by mean, and
        # quantile() relies on that invariant
        if self.means.size:
            self._compress(force=True)
        return self

    # -- query ---------------------------------------------------------
    def quantile(self, q) -> np.ndarray | float:
        """Interpolated quantile(s) for q in [0,1]."""
        self._compress()
        scalar = np.isscalar(q)
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if self.count == 0:
            out = np.full(qs.shape, np.nan)
            return float(out[0]) if scalar else out
        m, w = self.means, self.weights
        cum = np.cumsum(w) - w * 0.5
        targets = qs * self.count
        idx = np.searchsorted(cum, targets)
        out = np.empty(qs.shape)
        for i, (t, j) in enumerate(zip(targets, idx)):
            if j <= 0:
                out[i] = self.vmin if t <= w[0] * 0.5 else m[0]
            elif j >= m.size:
                out[i] = self.vmax if t >= self.count - w[-1] * 0.5 else m[-1]
            elif m[j - 1] == m[j]:
                # equal endpoints must return the value EXACTLY: the
                # convex form below rounds (1-f)·M + f·M one ULP off,
                # which moves the estimate across the duplicated value's
                # whole rank run (hypothesis-found on [0]×6+[M]×3)
                out[i] = m[j]
            else:
                frac = (t - cum[j - 1]) / (cum[j] - cum[j - 1])
                # convex form, not m0 + frac*(m1-m0): the latter loses the
                # small operand to cancellation when |m1-m0| ≫ |m1| and
                # returns a value outside [m0, m1] at frac≈1
                out[i] = (1.0 - frac) * m[j - 1] + frac * m[j]
        out = np.clip(out, self.vmin, self.vmax)
        return float(out[0]) if scalar else out

    def rank(self, x: float) -> float:
        """Approximate rank (fraction ≤ x)."""
        self._compress()
        if self.count == 0:
            return float("nan")
        cum = np.cumsum(self.weights) - self.weights * 0.5
        r = np.interp(x, self.means, cum, left=0.0, right=self.count)
        return float(r / self.count)

    # -- serialization ---------------------------------------------------
    def _payload_bytes(self) -> bytes:
        self._compress()
        head = struct.pack(
            "<dqddBq",
            self.compression,
            self.count,
            self.vmin,
            self.vmax,
            int(self.has_null),
            self.means.size,
        )
        return head + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def _from_payload(cls, payload: bytes) -> "TDigestSketch":
        compression, count, vmin, vmax, has_null, n = struct.unpack_from(
            "<dqddBq", payload, 0
        )
        off = struct.calcsize("<dqddBq")
        obj = cls(compression)
        obj.means = np.frombuffer(payload, np.float64, count=n, offset=off).copy()
        obj.weights = np.frombuffer(
            payload, np.float64, count=n, offset=off + 8 * n
        ).copy()
        obj.count, obj.vmin, obj.vmax = count, vmin, vmax
        obj.has_null = bool(has_null)
        return obj
