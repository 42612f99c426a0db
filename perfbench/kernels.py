"""Driver-side timings of the sketch and hashing kernels.

The kernels run in Spark's Python workers during the operator calls,
where no timer can reach them from outside; here they run on the driver
over a batch drawn from the workload's own token table, so a change to
a kernel shows as a per-item time that no Spark overhead blurs.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa

import bloomjoin_spark as bj
from bloomjoin_spark.hashing import hash_columns, hash_tokens_flat, hash_utf8_arrow

REPEATS = 5


def _median_time(fn, repeats: int = REPEATS) -> float:
    samples = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def _sketch_kernels(name: str, make, feed, data) -> dict[str, float]:
    half = len(data) // 2

    def build(chunk):
        sk = make()
        feed(sk, chunk)
        return sk

    update_s = _median_time(lambda: build(data))
    a, b = build(data[:half]), build(data[half:])
    a_blob = a.to_bytes()
    merge_samples = []
    for _ in range(REPEATS):
        left = type(a).from_bytes(a_blob)
        t0 = time.perf_counter()
        left.merge(b)
        merge_samples.append(time.perf_counter() - t0)
    return {
        f"sketches.{name}.update_ns": update_s / len(data) * 1e9,
        f"sketches.{name}.merge_ms": statistics.median(merge_samples) * 1e3,
        f"sketches.{name}.blob_kb": len(build(data).to_bytes()) / 1024,
    }


def kernel_metrics(sample: pd.DataFrame) -> dict[str, float]:
    """``sample``: rows (doc_id, tokens, n_tok) of the workload's token data."""
    out: dict[str, float] = {}
    tokens = sample["tokens"]
    n_tok = int(sum(len(t) for t in tokens))
    out["hashing.tokens_ns"] = _median_time(lambda: hash_tokens_flat(tokens)) / n_tok * 1e9
    ids = pa.array(sample["doc_id"].tolist(), type=pa.string())
    out["hashing.utf8_ns"] = _median_time(lambda: hash_utf8_arrow(ids)) / len(ids) * 1e9
    cols = sample[["doc_id", "n_tok"]]
    out["hashing.columns_ns"] = (
        _median_time(lambda: hash_columns(cols, ["doc_id", "n_tok"])) / len(cols) * 1e9)

    h = hash_tokens_flat(tokens)
    v = np.concatenate([np.asarray(t, dtype=np.float64) for t in tokens if len(t)])
    by_hash = lambda sk, x: sk.update_hashes(x)  # noqa: E731
    by_value = lambda sk, x: sk.update_values(x)  # noqa: E731
    out.update(_sketch_kernels("bloom", lambda: bj.BloomSketch(len(h), 0.01), by_hash, h))
    out.update(_sketch_kernels("hll", lambda: bj.HllSketch(14), by_hash, h))
    out.update(_sketch_kernels("cms", lambda: bj.CmsSketch(eps=1e-3, delta=1e-3), by_hash, h))
    out.update(_sketch_kernels("kll", lambda: bj.KllSketch(200), by_value, v))
    out.update(_sketch_kernels("tdigest", lambda: bj.TDigestSketch(200), by_value, v))
    bloom = bj.BloomSketch(len(h), 0.01)
    bloom.update_hashes(h[: len(h) // 2])
    bloom.seal()
    out["sketches.bloom.probe_ns"] = _median_time(lambda: bloom.contains_hashes(h)) / len(h) * 1e9
    return out
