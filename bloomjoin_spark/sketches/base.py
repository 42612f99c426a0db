"""Mergeable-sketch protocol.

Every sketch in this library is an associative, commutative two-phase
aggregate: executors build partials per partition from numpy arrays of
canonical uint64 hashes (or raw values for quantile sketches), partials
merge in any order/grouping to one global sketch, and estimates are
identical (Bloom/HLL/CMS: bit-identical; t-digest/KLL: within the
algorithm's published bound) regardless of merge ordering — the same
invariant the reference gets from one global filter no matter the
insertion order (``/root/reference/src/BloomFilter.cpp:85-165``).

Serialization contract: ``to_bytes``/``from_bytes`` round-trips so a
partial can ride a DataFrame ``binary`` column through the tree merge
and the lineage checkpoint.  ``to_bytes`` is the canonical raw frame;
a partial row or a stream state carries :func:`pack`'s frame, which
``from_bytes`` reads too.
"""

from __future__ import annotations

import functools
import struct
from typing import ClassVar

import numpy as np

_MAGIC, _PACKED = b"BJSK", b"BJSZ"


@functools.cache
def _zstd():
    import pyarrow as pa

    return pa.Codec("zstd", compression_level=1)


def pack(sk: "Sketch") -> bytes:
    """``sk``'s blob for a partial row or a stream state: the raw frame
    with its payload zstd-1 compressed under the ``BJSZ`` magic when
    that is shorter, else the raw frame.  Both frames share the 16-byte
    header: magic, kind (bytes 4–7, 0-based), raw payload length."""
    raw = sk.to_bytes()
    packed = _PACKED + raw[4:16] + _zstd().compress(memoryview(raw)[16:], asbytes=True)
    return packed if len(packed) < len(raw) else raw


class Sketch:
    """Base: header framing + dispatch for deserialization."""

    #: 4-byte sketch-kind tag, unique per subclass
    KIND: ClassVar[bytes] = b"????"

    #: kind tags of PRIOR payload layouts this subclass can still read
    #: (via ``_from_payload_legacy``): a blob or store row written by the
    #: previous version deserializes under its old tag.  A checkpoint dir
    #: holding Bloom partials of a legacy layout is rebuilt, not merged
    #: (``aggregate._resume_ids``).
    LEGACY_KINDS: ClassVar[tuple[bytes, ...]] = ()

    _registry: ClassVar[dict[bytes, type["Sketch"]]] = {}
    _legacy: ClassVar[dict[bytes, type["Sketch"]]] = {}

    def __init_subclass__(cls, **kw):
        super().__init_subclass__(**kw)
        if cls.KIND != b"????":
            Sketch._registry[cls.KIND] = cls
            for lk in cls.LEGACY_KINDS:
                Sketch._legacy[lk] = cls

    # -- subclass API -------------------------------------------------
    def update_hashes(self, h: np.ndarray) -> None:
        """Absorb a batch of canonical uint64 hashes."""
        raise NotImplementedError

    def merge(self, other: "Sketch") -> "Sketch":
        """In-place merge; returns self. Must be assoc+comm."""
        raise NotImplementedError

    def _payload_bytes(self) -> bytes:
        raise NotImplementedError

    @classmethod
    def _from_payload(cls, payload: bytes) -> "Sketch":
        raise NotImplementedError

    # -- framing ------------------------------------------------------
    def to_bytes(self) -> bytes:
        payload = self._payload_bytes()
        return _MAGIC + self.KIND + struct.pack("<Q", len(payload)) + payload

    @classmethod
    def _from_payload_legacy(cls, payload: bytes) -> "Sketch":
        raise NotImplementedError

    @classmethod
    def from_bytes(cls, buf: bytes) -> "Sketch":
        magic, kind = bytes(buf[:4]), bytes(buf[4:8])
        if len(buf) < 16 or magic not in (_MAGIC, _PACKED):
            raise ValueError("not a sketch blob")
        (n,) = struct.unpack("<Q", buf[8:16])
        if magic == _MAGIC:
            payload = bytes(buf[16 : 16 + n])
        elif n > (len(buf) - 16) << 15:  # past zstd's 32768:1 ceiling (4-byte RLE block of 128 KiB)
            raise ValueError(f"corrupt packed {kind!r} blob: {n} bytes from {len(buf)}")
        else:
            try:
                payload = _zstd().decompress(memoryview(buf)[16:], decompressed_size=n, asbytes=True)
            except (OSError, MemoryError) as e:  # a truncated or corrupt frame
                raise ValueError(f"corrupt packed {kind!r} blob: {e}") from e
        if cls is not Sketch:
            if kind == cls.KIND:
                return cls._from_payload(payload)
            if kind in cls.LEGACY_KINDS:
                return cls._from_payload_legacy(payload)
            raise ValueError(f"expected {cls.KIND!r} blob, got {kind!r}")
        if kind in Sketch._registry:
            return Sketch._registry[kind]._from_payload(payload)
        if kind in Sketch._legacy:
            return Sketch._legacy[kind]._from_payload_legacy(payload)
        raise ValueError(f"unknown sketch kind {kind!r}")
