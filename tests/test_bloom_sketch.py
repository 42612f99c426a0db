"""Pure-numpy Bloom filter tests — ported test strategy from the
reference's test-fpr-target.R / test-params.R (see SURVEY.md §5)."""

import numpy as np
import pytest

from bloomjoin_spark.hashing import hash_int64, hash_strings
from bloomjoin_spark.sketches import BloomSketch, Sketch, bloom_params, bloom_sizing


def _hashes(lo, hi, seed=0):
    return hash_int64(np.arange(lo, hi, dtype=np.int64), seed)


class TestFprTarget:
    """Reference: tests/testthat/test-fpr-target.R:13-61."""

    @pytest.mark.parametrize("p", [1e-1, 1e-2, 1e-3, 1e-4, 1e-5])
    def test_measured_fpr_at_most_target(self, p):
        # disjoint build/probe sets ⇒ every surviving probe is a false positive
        n = 100_000
        bf = BloomSketch(n, p)
        bf.update_hashes(_hashes(0, n))
        probe = _hashes(n, 2 * n)
        fp = bf.contains_hashes(probe).sum()
        measured = fp / n
        # 5σ slack over binomial noise on the target
        assert measured <= p + 5 * np.sqrt(p * (1 - p) / n) + 1e-12

    def test_fpr_monotone_in_p(self):
        n = 50_000
        build, probe = _hashes(0, n), _hashes(n, 2 * n)
        rates = []
        for p in [0.1, 0.01, 0.001]:
            bf = BloomSketch(n, p)
            bf.update_hashes(build)
            rates.append(bf.contains_hashes(probe).mean())
        assert rates[0] >= rates[1] >= rates[2]

    @pytest.mark.parametrize("p", [1e-1, 1e-2, 1e-5])
    def test_zero_false_negatives(self, p):
        n = 100_000
        bf = BloomSketch(n, p)
        h = _hashes(0, n)
        bf.update_hashes(h)
        assert bf.contains_hashes(h).all()

    def test_sizing_meets_loose_and_tight_targets(self):
        for n, p in [(1000, 0.8), (1000, 1e-20), (10, 0.5), (1_000_000, 1e-6)]:
            m, k = bloom_sizing(n, p)
            achieved = (1 - np.exp(-k * n / m)) ** k
            assert achieved <= p * 1.0000001
            assert m & (m - 1) == 0  # power of two

    def test_unsatisfiable_target_warns(self):
        with pytest.warns(UserWarning, match="cannot reach"):
            bloom_sizing(10**12, 1e-18)


class TestParams:
    """Reference: tests/testthat/test-params.R — the helper must agree
    with the filter's own sizing."""

    def test_params_match_filter_sizing(self):
        for n in [10, 1000, 50_000, 2_000_000]:
            for p in [0.1, 0.01, 0.001]:
                rep = bloom_params(n, p)
                bf = BloomSketch(n, p)
                assert rep["m_bits"] == bf.m
                assert rep["k"] == bf.k
                assert rep["target_met"]

    def test_validation(self):
        with pytest.raises(ValueError):
            bloom_sizing(100, 0.0)
        with pytest.raises(ValueError):
            bloom_sizing(100, 1.0)
        with pytest.raises(ValueError):
            bloom_params(100, -3)


class TestMerge:
    def test_merge_equals_single_build(self):
        # OR-merge of partition partials == one filter built from all keys
        n = 30_000
        whole = BloomSketch(n, 0.01)
        whole.update_hashes(_hashes(0, n))
        parts = []
        for lo in range(0, n, 7_500):
            p = BloomSketch(n, 0.01)
            p.update_hashes(_hashes(lo, min(lo + 7_500, n)))
            parts.append(p)
        # arbitrary merge order
        merged = parts[2].merge(parts[0]).merge(parts[3]).merge(parts[1])
        assert np.array_equal(merged.words, whole.words)
        assert merged.n_added == whole.n_added

    def test_merge_size_mismatch_raises(self):
        a, b = BloomSketch(100, 0.01), BloomSketch(10**6, 0.01)
        with pytest.raises(ValueError):
            a.merge(b)

    def test_null_tracking(self):
        a, b = BloomSketch(100, 0.01), BloomSketch(100, 0.01)
        b.add_null()
        assert not a.has_null
        a.merge(b)
        assert a.has_null

    def test_empty_build_rejects_everything(self):
        # reference short-circuit src/BloomFilter.cpp:91-93
        bf = BloomSketch(1000, 0.01)
        assert not bf.contains_hashes(_hashes(0, 1000)).any()


class TestSerde:
    def test_roundtrip(self):
        bf = BloomSketch(5000, 0.01)
        bf.update_hashes(_hashes(0, 5000))
        bf.add_null()
        back = Sketch.from_bytes(bf.to_bytes())
        assert isinstance(back, BloomSketch)
        assert np.array_equal(back.words, bf.words)
        assert back.has_null and back.k == bf.k and back.m == bf.m
        probe = _hashes(2500, 7500)
        assert np.array_equal(back.contains_hashes(probe), bf.contains_hashes(probe))


class TestStringHashing:
    def test_string_keys_deterministic_and_null_sentinel(self):
        import pandas as pd

        s = pd.Series(["a", "b", None, "été", "a"])
        h1, h2 = hash_strings(s), hash_strings(s)
        assert np.array_equal(h1, h2)
        assert h1[0] == h1[4] and h1[0] != h1[1]
        from bloomjoin_spark.hashing import NULL_SENTINEL

        assert h1[2] == NULL_SENTINEL


def test_sparse_partial_serialization_roundtrip():
    """Partials with few keys relative to m serialize as hash lists
    (8n bytes), not bitmaps (m/8 bytes); round-trip and merge results
    are identical either way."""
    import numpy as np

    from bloomjoin_spark.hashing import hash_int64
    from bloomjoin_spark.sketches.bloom import BloomSketch

    a = BloomSketch(2_000_000, 0.01)
    b = BloomSketch(2_000_000, 0.01)
    ha = hash_int64(np.arange(0, 30_000, dtype=np.int64))
    hb = hash_int64(np.arange(30_000, 60_000, dtype=np.int64))
    a.update_hashes(ha)
    b.update_hashes(hb)
    blob_a = a.to_bytes()
    assert len(blob_a) < a.m // 8 // 4, "sparse blob should be far below bitmap size"
    a2 = BloomSketch.from_bytes(blob_a)
    assert np.array_equal(a2.words, a.words)
    assert a2.n_added == a.n_added
    merged = BloomSketch.from_bytes(blob_a).merge(BloomSketch.from_bytes(b.to_bytes()))
    dense = BloomSketch(2_000_000, 0.01)
    dense.update_hashes(np.concatenate([ha, hb]))
    assert np.array_equal(merged.words, dense.words)
    # re-serialization of a still-small merge stays sparse
    assert len(merged.to_bytes()) < merged.m // 8 // 4
    # past breakeven (n > m/64) it densifies
    big = BloomSketch(4096, 0.01)
    big.update_hashes(hash_int64(np.arange(5_000, dtype=np.int64)))
    assert big._sparse is None
    rt = BloomSketch.from_bytes(big.to_bytes())
    assert np.array_equal(rt.words, big.words)


def test_legacy_v1_blobs_still_deserialize():
    """Blobs under the OLD kind tags (BLM1/CMS1/HLL1) exist in TWO
    historical layouts — the original dense-only one (no mode byte) and
    the later mode-byte one written under the same tag right up to the
    tag bump (byte-identical to today's payload).  BOTH must load: the
    advertised killed-job resume crosses the tag upgrade, and real
    pre-upgrade checkpoints are overwhelmingly the mode-byte kind."""
    import struct

    from bloomjoin_spark.sketches import CmsSketch, HllSketch

    def frame(kind: bytes, payload: bytes) -> bytes:
        return b"BJSK" + kind + struct.pack("<Q", len(payload)) + payload

    h = hash_int64(np.arange(500, dtype=np.int64))

    # --- Bloom: dense-no-mode (layout A) + mode-byte dense & sparse (B)
    bf = BloomSketch(1_000, 0.01)
    bf.update_hashes(h)
    bf.seal()
    layout_a = (
        struct.pack("<QIdBq", bf.m, bf.k, bf.fpp, int(bf.has_null), bf.n_added)
        + bf.words.tobytes()
    )
    layout_b_dense = bf._payload_bytes()
    sparse = BloomSketch(100_000, 0.01)  # few keys vs m → sparse payload
    sparse.update_hashes(h[:50])
    layout_b_sparse = sparse._payload_bytes()
    assert layout_b_sparse[struct.calcsize("<QIdBq")] == 1  # really sparse
    for payload, proto in (
        (layout_a, bf), (layout_b_dense, bf), (layout_b_sparse, sparse)
    ):
        for loader in (Sketch.from_bytes, BloomSketch.from_bytes):
            back = loader(frame(b"BLM1", payload))
            assert isinstance(back, BloomSketch)
            assert np.array_equal(back.words, proto.words)

    # --- CMS: both layouts
    cms = CmsSketch(eps=1e-2, delta=1e-2)
    cms.update_hashes(h)
    head = struct.pack("<ddqB", cms.eps, cms.delta, cms.total, int(cms.has_null))
    for payload in (head + cms.table.tobytes(), cms._payload_bytes()):
        backc = Sketch.from_bytes(frame(b"CMS1", payload))
        assert np.array_equal(backc.table, cms.table) and backc.total == cms.total

    # --- HLL: both layouts (incl. a genuinely sparse mode-byte blob)
    hll = HllSketch(10)
    hll.update_hashes(h)
    headh = struct.pack("<IB", hll.p, int(hll.has_null))
    hll_sparse = HllSketch(12)
    hll_sparse.update_hashes(h[:20])
    assert hll_sparse._payload_bytes()[struct.calcsize("<IB")] == 1
    for payload, proto in (
        (headh + hll.regs.tobytes(), hll),
        (hll._payload_bytes(), hll),
        (hll_sparse._payload_bytes(), hll_sparse),
    ):
        backh = Sketch.from_bytes(frame(b"HLL1", payload))
        assert backh.cardinality() == proto.cardinality()

    with pytest.raises(ValueError, match="unknown sketch kind"):
        Sketch.from_bytes(frame(b"XXX9", b"\x00"))


def test_format_bloom_params():
    """Parity with the reference's print.bloom_params (R/params.R:79-90):
    every field of the sizing dict appears in the formatted report."""
    from bloomjoin_spark import bloom_params, format_bloom_params

    p = bloom_params(1_000_000, 0.01)
    s = format_bloom_params(p)
    assert "n (expected keys): 1,000,000" in s
    assert "hashes (k):" in s and "achieved FPR:" in s and "bits per key:" in s


# a dense BLM2 blob (splitmix64 layout) written by the previous release:
# BloomSketch(200, 0.01) over hash_int64(arange(200)); m=2048, k=7.  Its
# false positives over hash_int64(arange(200, 20200)) numbered 155.
_BLM2_HEX = (
    "424a534b424c4d321e010000000000000008000000000000070000007b14ae47e17a843f"
    "00c800000000000000008af6325da3d7f501d6c2bfa8839d78a9cb1480b68c077d7558cb"
    "0e0219c69c84493bc725718f1acc1b0ed1dbebecbf409836d368319298269b339d814772"
    "d689650ebc324fdbe3e2729566cc7e3f4af12f6e1a9ef54f2f07c3d157eca43477e03a3a"
    "1cad4d531de9f4a6a98599b15a7a25f45088cbdf93f43ba531a426c86b1fe29199e3d6fa"
    "18256e214b512d8ffc18279a46005056c4647115c71eeffe073131ab83d4b143a99d76b3"
    "58736dac2c275738f936aef33812e647c5b22baf30a95873f9e478216b507ca32b361a0b"
    "3c27fe119445c883497f426f49ee020c6c1825eaaf6e50c0d57b02c00220561d6410a790"
    "0e48679c79bed6a703361ecd09a1"
)


def test_blm2_blob_keeps_its_layout():
    """A dense BLM2 blob loads, probes with its original positions (zero
    false negatives, the same false positives as when it was written),
    re-serializes as BLM2, and refuses to merge with a BLM3 sketch."""
    old = Sketch.from_bytes(bytes.fromhex(_BLM2_HEX))
    assert isinstance(old, BloomSketch) and (old.m, old.k) == (2048, 7)
    assert old.contains_hashes(_hashes(0, 200)).all()
    assert int(old.contains_hashes(_hashes(200, 20_200)).sum()) == 155
    assert old.to_bytes()[4:8] == b"BLM2"
    assert np.array_equal(Sketch.from_bytes(old.to_bytes()).words, old.words)
    new = BloomSketch(200, 0.01)
    new.update_hashes(_hashes(0, 200))
    assert (new.m, new.k) == (old.m, old.k)
    with pytest.raises(ValueError, match="bit layouts"):
        new.merge(old)
    with pytest.raises(ValueError, match="bit layouts"):
        BloomSketch.empty_like(old).merge(new)
    with pytest.raises(ValueError, match="no Spark bit layout"):
        old.to_spark_bytes()


def test_spark_bytes_roundtrip_and_header():
    """``to_spark_bytes`` writes Spark's V2 header (version 2, k, seed 0,
    word count) then big-endian words; ``from_spark_bytes`` reads it
    back, also for Spark's non-power-of-two m."""
    import struct

    bf = BloomSketch(5000, 0.01)
    bf.update_hashes(_hashes(0, 5000))
    blob = bf.to_spark_bytes()
    assert struct.unpack(">iiii", blob[:16]) == (2, bf.k, 0, bf.m // 64)
    assert len(blob) == 16 + bf.m // 8
    back = BloomSketch.from_spark_bytes(blob)
    assert np.array_equal(back.words, bf.words)
    probe = _hashes(2500, 7500)
    assert np.array_equal(back.contains_hashes(probe), bf.contains_hashes(probe))
    # a 3-word filter (m = 192, not a power of two): positions are c mod m
    odd = BloomSketch.from_spark_bytes(blob[:12] + struct.pack(">i", 3) + blob[16:40])
    assert odd.m == 192 and not odd._pow2
    with pytest.raises(ValueError, match="V2"):
        BloomSketch.from_spark_bytes(struct.pack(">ii", 1, 3) + blob[8:])
