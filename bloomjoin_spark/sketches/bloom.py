"""Bloom filter sketch — the flagship, generalizing the reference's
``BloomFilter`` (``/root/reference/src/BloomFilter.h:15-157``,
``src/BloomFilter.cpp:21-165``) into a mergeable two-phase aggregate.

Parity points (re-derived, not ported — all numpy, no per-row work):

- bit-packed uint64 words, power-of-two size (reference
  ``src/BloomFilter.h:98-100``);
- double hashing: two hashes per key expand to k probe positions
  (``src/BloomFilter.cpp:25-36``);
- sizing: ``m = 2^ceil(log2(-n ln p / ln²2))``, ``k = round(m/n · ln2)``,
  escalate m until the achieved fpr meets the target, hard caps on m
  and k (``src/BloomFilter.h:81-128``);
- explicit null tracking: the build side records "saw a null", a null
  probe matches iff the build had one (``src/BloomFilter.h:148-151``);
- merge = bitwise OR of equal-shaped filters — insertion order and
  partition grouping can never change the final bitset.

Bit layout (kind tag ``BLM3``): exactly the one of Spark 4's
``BloomFilterImplV2``.  A key hash ``h`` gives ``hi = Murmur3_x86_32.
hashLong(h, 0)`` and ``lo = hashLong(h, hi)``; probe i sets bit
``c mod m`` of ``c = hi·(2³¹−1) + (i+1)·lo``, replaced by ``~c`` when
negative.  Why Spark's: a sealed sketch then IS a Spark filter
(``to_spark_bytes``), so the join probe runs as the JVM's
``BloomFilterMightContain`` inside whole-stage codegen instead of a
Python UDF, and a filter Spark built (``DataFrame.stat.bloomFilter``)
loads here (``from_spark_bytes``) for driver-side tests.  The sizing
above is unchanged: m stays a power of two, so ``c mod m`` is a mask.

Legacy kinds still read: ``BLM1`` and ``BLM2`` (splitmix64 double
hashing, the layout before ``BLM3``) load from skipping indexes, sketch
stores, checkpoint partials and saved filters, and a dense one probes
with its original positions.  A sparse one carries its key hashes, not
bit positions, so it loads into the current layout.  Merging two
different layouts raises.

Scale notes (100 TB / 1000 executors): the filter is built once from
the *small* side of a join; the cap (default 2^33 bits = 1 GiB) is a
broadcast-budget guard, stricter than the reference's 2^40 because
Spark broadcasts must stay well under driver/executor memory.
"""

from __future__ import annotations

import math
import struct
import warnings

import numpy as np

from ..hashing import splitmix64
from .base import Sketch

_U64 = np.uint64
_U32 = np.uint32
_LN2 = math.log(2.0)

#: broadcast-budget cap (bits). 2^33 bits = 1 GiB of filter.
MAX_BITS = 1 << 33
MAX_K = 64

# seeds of the legacy (BLM1/BLM2) splitmix64 layout
_SEED1 = 0xA076_1D64_78BD_642F
_SEED2 = 0xE703_7ED1_A0B4_28DB

#: Spark's BloomFilterImplV2 scrambles hi into the upper bits with this
_INT_MAX = np.int64((1 << 31) - 1)

#: Spark's serialized BloomFilter header: version, k, seed, word count
_SPARK_HEAD = struct.Struct(">iiii")


def bloom_sizing(n: int, p: float) -> tuple[int, int]:
    """(m_bits, k) for n expected distinct keys at target fpr p.

    Same closed form + escalation loop as the reference
    (``src/BloomFilter.h:81-128``): integer-k rounding can overshoot the
    target, so grow m (power-of-two steps) until the achieved fpr
    ``(1 - exp(-k n / m))^k`` meets p, stopping at the cap.
    """
    if not (0.0 < p < 1.0):
        raise ValueError(f"fpp must be in (0,1), got {p}")
    n = max(int(n), 1)
    m_ideal = -n * math.log(p) / (_LN2 * _LN2)
    m = 1 << max(6, math.ceil(math.log2(max(m_ideal, 1.0))))
    m = min(m, MAX_BITS)
    while True:
        k = max(1, min(MAX_K, round((m / n) * _LN2)))
        achieved = (1.0 - math.exp(-k * n / m)) ** k
        if achieved <= p or m >= MAX_BITS:
            break
        m <<= 1
    if achieved > p:
        warnings.warn(
            f"bloom filter cannot reach fpp={p:g} for n={n} under the "
            f"{MAX_BITS} bit broadcast cap; achieved ≈ {achieved:.3g}",
            stacklevel=2,
        )
    return m, k


def spark_sizing(n: int, p: float) -> tuple[int, int]:
    """(m_bits, k) of Spark's ``BloomFilter.create(n, p)``:
    ``optimalNumOfBits`` rounded up to whole 64-bit words, and
    ``optimalNumOfHashFunctions`` of the unrounded bits (Java's
    ``Math.round``, half up).  m is rarely a power of two."""
    bits = int(-n * math.log(p) / (_LN2 * _LN2))
    k = max(1, math.floor(bits / max(int(n), 1) * _LN2 + 0.5))
    return 64 * -(-bits // 64), k


def bloom_params(n: int, p: float = 0.01) -> dict:
    """Report (m, k, bytes, bits/key, achieved fpr) — must call the SAME
    sizing code the filter uses (the reference fixed exactly that drift,
    ``/root/reference/R/params.R:8-14``)."""
    m, k = bloom_sizing(n, p)
    achieved = (1.0 - math.exp(-k * max(n, 1) / m)) ** k
    return {
        "n": n,
        "target_fpr": p,
        "m_bits": m,
        "k": k,
        "size_bytes": m // 8,
        "bits_per_key": m / max(n, 1),
        "achieved_fpr": achieved,
        "target_met": achieved <= p,
    }


def format_bloom_params(params: dict) -> str:
    """Human-readable report for a ``bloom_params`` dict (parity with
    the reference's ``print.bloom_params``, ``R/params.R:79-90``)."""
    mib = params["size_bytes"] / (1 << 20)
    return "\n".join(
        [
            "Bloom filter for a target false positive rate",
            f"  n (expected keys): {params['n']:,}",
            f"  target FPR:        {params['target_fpr']:.3g}",
            f"  total bits (m):    {params['m_bits']:,}",
            f"  total bytes:       {params['size_bytes']:,} ({mib:.3g} MiB)",
            f"  bits per key:      {params['bits_per_key']:.4g}",
            f"  hashes (k):        {params['k']}",
            f"  achieved FPR:      {params['achieved_fpr']:.4g}",
            f"  target met:        {params['target_met']}",
        ]
    )


_POP8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1)


def _popcount(words: np.ndarray) -> int:
    return int(_POP8[words.view(np.uint8)].sum(dtype=np.int64))


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    """In-place 32-bit rotate left of a uint32 array."""
    t = x >> _U32(32 - r)
    x <<= _U32(r)
    x |= t
    return x


def _murmur3_blocks(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The seed-independent half of Spark's ``Murmur3_x86_32.hashLong``:
    ``mixK1`` of the low and the high 32 bits of a uint64 array."""
    out = []
    with np.errstate(over="ignore"):
        for half in (x.astype(_U32), (x >> _U64(32)).astype(_U32)):
            half *= _U32(0xCC9E2D51)
            half = _rotl32(half, 15)
            half *= _U32(0x1B873593)
            out.append(half)
    return out[0], out[1]


def _murmur3_long(blocks: tuple[np.ndarray, np.ndarray], seed) -> np.ndarray:
    """Spark's ``Murmur3_x86_32.hashLong(x, seed)`` from
    ``_murmur3_blocks(x)``: both blocks mixed into ``seed`` (a uint32
    scalar or array), then the length-8 finalizer.  uint32 result (the
    bits of the JVM int)."""
    with np.errstate(over="ignore"):
        h = seed
        for block in blocks:
            h = _rotl32(h ^ block, 13)
            h *= _U32(5)
            h += _U32(0xE6546B64)
        h ^= _U32(8)
        h ^= h >> _U32(16)
        h *= _U32(0x85EBCA6B)
        h ^= h >> _U32(13)
        h *= _U32(0xC2B2AE35)
        h ^= h >> _U32(16)
    return h


def _spark_pair(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(hi·(2³¹−1), lo)`` as int64 — the BloomFilterImplV2 hash pair:
    ``hi = hashLong(h, 0)``, ``lo = hashLong(h, hi)``."""
    blocks = _murmur3_blocks(h)
    hi = _murmur3_long(blocks, _U32(0))
    lo = _murmur3_long(blocks, hi)
    return (
        hi.view(np.int32).astype(np.int64) * _INT_MAX,
        lo.view(np.int32).astype(np.int64),
    )


class BloomSketch(Sketch):
    # BLM3: Spark's BloomFilterImplV2 bit layout (module docstring).
    # BLM2 (mode byte: dense bitmap vs sparse hash list) and BLM1
    # (dense-only, no mode byte) used splitmix64 positions; they still
    # load via _from_payload_legacy, and a dense one keeps its layout
    # through the instance's KIND.
    KIND = b"BLM3"
    LEGACY_KINDS = (b"BLM1", b"BLM2")
    CONSUMES = "hashes"
    #: membership insert is idempotent (update_hashes dedups anyway)
    SET_SEMANTICS = True

    def __init__(self, n: int, fpp: float = 0.01, _words: np.ndarray | None = None):
        self.n_hint = int(n)
        self.fpp = float(fpp)
        self._shape(*bloom_sizing(n, fpp))
        self._words = (
            _words
            if _words is not None
            else np.zeros(self.m // 64, dtype=np.uint64)
        )
        self.has_null = False
        self.n_added = 0
        # retained key hashes for SPARSE serialization: a per-partition
        # partial of a large filter holds few keys relative to m, so
        # shipping 8·n bytes of hashes beats m/8 bytes of bitmap — at
        # 100k partitions × a 1 GiB-cap filter that is the difference
        # between collecting terabytes of partial bitmaps and megabytes
        # of hash lists. Dropped (None) once past the breakeven n = m/64.
        self._sparse: list[np.ndarray] | None = []

    def _shape(self, m: int, k: int) -> None:
        self.m, self.k = int(m), int(k)
        # m is a power of two except for filters Spark sized
        self._pow2 = self.m & (self.m - 1) == 0
        self.mask = _U64(self.m - 1)

    @classmethod
    def _blank(cls, m: int, k: int, fpp: float, n_added: int, has_null: bool,
               kind: bytes = KIND) -> "BloomSketch":
        obj = cls.__new__(cls)
        obj.n_hint = obj.n_added = int(n_added)
        obj.fpp = float(fpp)
        obj._shape(m, k)
        obj.has_null = bool(has_null)
        obj._words = None
        obj._sparse = None
        if kind != cls.KIND:
            obj.KIND = kind
        return obj

    # -- positions -----------------------------------------------------
    # probe i's position is a function of c_i = c_0 + (i+1)·step, so
    # the loops below advance c by step in place: one add per probe
    def _pair(self, h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """``(c_0, step)`` per key, advanced and indexed by ``_index``."""
        if self.KIND == BloomSketch.KIND:
            return _spark_pair(h)
        with np.errstate(over="ignore"):
            h1 = splitmix64(h ^ _U64(_SEED1))
            h2 = splitmix64(h ^ _U64(_SEED2)) | _U64(1)  # odd → full-cycle stride
            return h1 - h2, h2  # legacy probe i: (h1 + i·h2) mod m

    def _index(self, c: np.ndarray, out: np.ndarray) -> np.ndarray:
        """uint64 bit positions of the advanced ``c``, written into
        ``out`` (a reused buffer shaped like ``c``)."""
        if self.KIND != BloomSketch.KIND:
            return np.bitwise_and(c, self.mask, out=out)
        # c = hi·(2³¹−1) + (i+1)·lo never overflows int64; ~c when
        # negative is c XOR its arithmetic sign
        np.right_shift(c, 63, out=out)
        np.bitwise_xor(out, c, out=out)
        p = out.view(np.uint64)
        if self._pow2:
            return np.bitwise_and(p, self.mask, out=p)
        return np.remainder(p, _U64(self.m), out=p)

    # -- build ---------------------------------------------------------
    @property
    def words(self) -> np.ndarray:
        """Dense bitmap — densified LAZILY: a sketch deserialized from a
        sparse partial carries only its hash list until first probed, so
        tree-merging sparse partials is list concatenation, never a
        per-partial m/8-byte allocation + scatter."""
        if self._words is None:
            self._words = np.zeros(self.m // 64, dtype=np.uint64)
            if self._sparse:
                self._set_bits(np.concatenate(self._sparse))
        return self._words

    def _set_bits(self, h: np.ndarray) -> None:
        # positions are computed ONE PROBE AT A TIME into a reused
        # n-sized buffer instead of materializing the (n, k) matrix —
        # three k·n·8-byte temporaries per insert batch meant ~550 MB of
        # FRESH allocations for a 1M-key densify, and first-touch page
        # faults on this class of (oversubscribed) host run at ~50 MB/s:
        # measured 27 s for the matrix form vs 0.3 s for this loop, with
        # identical positions
        c, step = self._pair(h.astype(np.uint64, copy=False))
        buf = np.empty_like(c)
        if self.m <= (1 << 28) and h.size * self.k >= 4096:
            # duplicate-safe scatter-STORE into a bool plane + packbits:
            # O(n) stores + O(m/8) pack, ~30× faster than the unbuffered
            # np.bitwise_or.at scatter (measured 1.7s → 0.06s for 6M
            # probe positions into a 2^23-bit filter)
            bools = np.zeros(self.m, dtype=bool)
            for _ in range(self.k):
                np.add(c, step, out=c)
                bools[self._index(c, buf)] = True
            packed = np.packbits(bools, bitorder="little")
            np.bitwise_or(self._words, packed.view(np.uint64), out=self._words)
            return
        bit = np.empty(h.size, dtype=np.uint64)
        for _ in range(self.k):
            np.add(c, step, out=c)
            p = self._index(c, buf)
            np.left_shift(_U64(1), p & _U64(63), out=bit)
            np.bitwise_or.at(self._words, p >> _U64(6), bit)

    def update_hashes(self, h: np.ndarray) -> None:
        """Insert a batch of canonical uint64 hashes (dedup first — the
        reference sorts+uniques before insert, src/BloomFilter.cpp:111-114)."""
        if h.size == 0:
            return
        h = np.unique(h.astype(np.uint64, copy=False))
        self.words  # ensure dense before scatter
        self._set_bits(h)
        self.n_added += int(h.size)
        if self._sparse is not None:
            if self.n_added <= self.m // 64:
                self._sparse.append(h)
            else:
                self._sparse = None

    def add_null(self) -> None:
        self.has_null = True

    def seal(self) -> "BloomSketch":
        """Densify and drop the retained hash list — call before
        broadcasting so executors receive only the m/8-byte bitmap,
        not bitmap + hash list."""
        self.words
        self._sparse = None
        return self

    # -- probe ---------------------------------------------------------
    def contains_hashes(self, h: np.ndarray) -> np.ndarray:
        """Vectorized membership: bool array, True = maybe present.

        Batched SHORT-CIRCUIT (the vector analog of the reference's
        per-key early exit, src/BloomFilter.cpp:39-51): probe i only
        tests the keys still alive after probe i−1, so for non-members
        the expected gather work is n/(1−fill) ≈ 2n instead of k·n —
        ~4× less memory traffic at fill ≈ 0.5."""
        if h.size == 0:
            return np.empty(0, dtype=bool)
        words = self.words
        c, step = self._pair(h.astype(np.uint64, copy=False))
        buf = np.empty_like(c)
        alive = np.arange(h.size)
        for _ in range(self.k):
            np.add(c, step, out=c)
            p = self._index(c, buf[: c.size])
            hit = ((words[p >> _U64(6)] >> (p & _U64(63))) & _U64(1)).astype(bool)
            alive, c, step = alive[hit], c[hit], step[hit]
            if alive.size == 0:
                break
        out = np.zeros(h.size, dtype=bool)
        out[alive] = True
        return out

    # -- merge ---------------------------------------------------------
    def merge(self, other: "BloomSketch") -> "BloomSketch":
        if other.KIND != self.KIND:
            raise ValueError(
                f"cannot OR-merge bloom filters of different bit layouts "
                f"({self.KIND.decode()} vs {other.KIND.decode()}); rebuild "
                "the older one"
            )
        if other.m != self.m or other.k != self.k:
            raise ValueError("cannot OR-merge differently sized bloom filters")
        self.has_null |= other.has_null
        self.n_added += other.n_added
        both_sparse = self._sparse is not None and other._sparse is not None
        if both_sparse and self._words is None and other._words is None:
            # sparse ∪ sparse: pool hash lists; densify only on demand
            self._sparse = self._sparse + other._sparse
            return self
        np.bitwise_or(self.words, other.words, out=self._words)
        if both_sparse and self.n_added <= self.m // 64:
            self._sparse = self._sparse + other._sparse
        else:
            self._sparse = None
        return self

    # -- introspection ---------------------------------------------------
    def fill_ratio(self) -> float:
        return _popcount(self.words) / self.m

    # -- Spark interop ---------------------------------------------------
    @classmethod
    def spark_sized(cls, n: int, fpp: float) -> "BloomSketch":
        """An empty filter of Spark's own size (``spark_sizing``): it
        serializes to the bytes of the JVM ``BloomFilter.create(n, fpp)``
        over the same keys.  ``stat.bloomFilter`` builds that filter too,
        up to its runtime-filter clamp (2^26 bits by default), above
        which it builds a smaller one."""
        obj = cls._blank(*spark_sizing(n, fpp), fpp, 0, False)
        obj._words = np.zeros(obj.m // 64, dtype=np.uint64)
        return obj

    def to_spark_bytes(self) -> bytes:
        """Spark's serialized ``BloomFilterImplV2`` (version 2, k, seed
        0, word count, big-endian words) of this filter — the literal
        ``BloomFilterMightContain`` probes.  Null tracking does not
        travel: Spark's filter has none."""
        if self.KIND != BloomSketch.KIND:
            raise ValueError(
                f"a {self.KIND.decode()} filter has no Spark bit layout; rebuild it"
            )
        words = self.words
        return _SPARK_HEAD.pack(2, self.k, 0, words.size) + words.astype(">u8").tobytes()

    @classmethod
    def from_spark_bytes(cls, blob: bytes) -> "BloomSketch":
        """Load a serialized Spark ``BloomFilterImplV2`` (for example
        from ``DataFrame.stat.bloomFilter``); its m need not be a power
        of two.  Spark's V1 layout and non-zero seeds are refused."""
        version, k, seed, n_words = _SPARK_HEAD.unpack_from(blob, 0)
        if version != 2 or seed != 0:
            raise ValueError(
                f"only Spark's V2 Bloom layout with seed 0 loads here, got "
                f"version {version}, seed {seed}"
            )
        obj = cls._blank(64 * n_words, k, float("nan"), 0, False)
        obj._words = np.frombuffer(
            blob, dtype=">u8", count=n_words, offset=_SPARK_HEAD.size
        ).astype(np.uint64)
        return obj

    # -- serialization ---------------------------------------------------
    # payload = header + mode byte + body.  mode 0: dense bitmap words
    # (m/8 bytes); mode 1: sparse unique-hash list (8·n bytes) — chosen
    # whenever the retained hash list is still under the breakeven
    # n = m/64, so partial blobs of large filters stay tiny.
    def _payload_bytes(self) -> bytes:
        head = struct.pack(
            "<QIdBq", self.m, self.k, self.fpp, int(self.has_null), self.n_added
        )
        if self._sparse is not None:
            hs = (
                np.unique(np.concatenate(self._sparse))
                if self._sparse
                else np.empty(0, dtype=np.uint64)
            )
            if hs.size <= self.m // 64:
                return head + b"\x01" + hs.tobytes()
        return head + b"\x00" + self.words.tobytes()

    @classmethod
    def _from_payload(cls, payload: bytes, dense_kind: bytes = KIND) -> "BloomSketch":
        """``dense_kind``: the layout a dense body was written in; a
        sparse body holds key hashes and always loads as ``KIND``."""
        m, k, fpp, has_null, n_added = struct.unpack_from("<QIdBq", payload, 0)
        off = struct.calcsize("<QIdBq")
        body = np.frombuffer(payload, dtype=np.uint64, offset=off + 1).copy()
        if payload[off] == 1:
            obj = cls._blank(m, k, fpp, n_added, has_null)
            obj._sparse = [body] if body.size else []  # lazy densify
        else:
            obj = cls._blank(m, k, fpp, n_added, has_null, dense_kind)
            obj._words = body
        return obj

    @classmethod
    def _from_payload_legacy(cls, payload: bytes) -> "BloomSketch":
        """BLM1/BLM2 (splitmix64 layout).  BLM1 blobs exist in TWO
        layouts: the original dense-only one (header + words, no mode
        byte) and the later one that added the mode byte WITHOUT
        bumping the tag — byte-identical to the BLM2 payload.
        Disambiguate by length: the dense-no-mode body is exactly m/8
        bytes (a multiple of 8); with the mode byte a dense body is
        m/8+1 and a sparse body is 8·n+1 — neither can equal m/8."""
        m, k, fpp, has_null, n_added = struct.unpack_from("<QIdBq", payload, 0)
        off = struct.calcsize("<QIdBq")
        if len(payload) - off != m // 8:
            return cls._from_payload(payload, dense_kind=b"BLM2")
        obj = cls._blank(m, k, fpp, n_added, has_null, b"BLM2")
        obj._words = np.frombuffer(payload, dtype=np.uint64, offset=off).copy()
        return obj

    @classmethod
    def empty_like(cls, proto: "BloomSketch") -> "BloomSketch":
        obj = cls._blank(proto.m, proto.k, proto.fpp, 0, False, proto.KIND)
        obj.n_hint = proto.n_hint
        obj._words = np.zeros(proto.m // 64, dtype=np.uint64)
        obj._sparse = []
        return obj
