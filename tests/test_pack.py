"""The packed blob frame (``sketches.base.pack``): every sketch kind
round-trips through it to its canonical raw frame, a blob ships packed
only when that is shorter, and a damaged packed blob is refused."""

import numpy as np
import pytest

from bloomjoin_spark.sketches import (
    BloomSketch,
    CmsSketch,
    FrequentDirectionsSketch,
    HllSketch,
    KllSketch,
    Sketch,
    TDigestSketch,
    ThetaSketch,
    TopKSketch,
)
from bloomjoin_spark.sketches.base import _zstd, pack


def _filled() -> dict[bytes, Sketch]:
    """One sketch of every registered kind, each holding data."""
    rng = np.random.default_rng(5)
    h = rng.integers(0, 2**63, 20_000, dtype=np.int64).view(np.uint64)
    v = rng.zipf(1.5, 20_000).astype(np.float64)
    out = [BloomSketch(20_000, 0.01), CmsSketch(1e-3, 1e-3), HllSketch(12), ThetaSketch(256)]
    for sk in out:
        sk.update_hashes(h)
    for sk in (KllSketch(64), TDigestSketch(50), TopKSketch(16)):
        sk.update_values(v)
        out.append(sk)
    fd = FrequentDirectionsSketch(2, 3)
    fd.update_matrix(rng.normal(size=(50, 3)))
    out.append(fd)
    return {sk.KIND: sk for sk in out}


def test_every_kind_round_trips_through_pack():
    sks = _filled()
    assert set(sks) == set(Sketch._registry)  # a new kind must join this test
    for kind, sk in sks.items():
        raw, blob = sk.to_bytes(), pack(sk)
        assert blob[4:8] == kind and len(blob) <= len(raw)
        assert (blob[:4] == b"BJSZ") == (len(blob) < len(raw)), kind
        assert blob == pack(sk)
        assert Sketch.from_bytes(blob).to_bytes() == raw, kind
        assert type(sk).from_bytes(blob).to_bytes() == raw, kind
        assert Sketch.from_bytes(raw).to_bytes() == raw, kind
    for kind in (b"CMS2", b"HLL2"):
        assert pack(sks[kind])[:4] == b"BJSZ"
        assert len(pack(sks[kind])) * 2 <= len(sks[kind].to_bytes()), kind


def test_bloom_packs_by_the_shorter_frame():
    """A Bloom partial follows the one rule: a bitmap at its design fill
    does not compress and ships raw, one at a quarter of it ships packed."""
    rng = np.random.default_rng(5)
    for fill, magic in ((20_000, b"BJSK"), (5_000, b"BJSZ")):
        bf = BloomSketch(20_000, 0.01)
        bf.update_hashes(rng.integers(0, 2**63, fill, dtype=np.int64).view(np.uint64))
        blob = pack(bf)
        assert blob[:4] == magic, fill
        assert Sketch.from_bytes(blob).to_bytes() == bf.to_bytes()
    assert len(blob) * 3 < len(bf.to_bytes()) * 2


def test_damaged_packed_blob_raises_value_error():
    blob = pack(_filled()[b"HLL2"])
    assert blob[:4] == b"BJSZ"
    damaged = {
        "truncated body": blob[:-7],
        "truncated header": blob[:12],
        "corrupt body": blob[:16] + bytes(len(blob) - 16),
        "wrong length": blob[:8] + (10**15).to_bytes(8, "little") + blob[16:],
        "few GiB": blob[:8] + (3 << 30).to_bytes(8, "little") + blob[16:],
    }
    for what, buf in damaged.items():
        with pytest.raises(ValueError):
            Sketch.from_bytes(buf)
        with pytest.raises(ValueError):
            HllSketch.from_bytes(buf)
    # a declared length past zstd's 32768:1 ceiling is refused before
    # any allocation; the most compressible payload stays under it
    with pytest.raises(ValueError, match="bytes from"):
        Sketch.from_bytes(damaged["few GiB"])
    assert len(_zstd().compress(bytes(1 << 24), asbytes=True)) << 15 > 1 << 24
    with pytest.raises(ValueError, match="expected b'CMS2' blob"):
        CmsSketch.from_bytes(blob)
