"""Canonical, vectorized key hashing shared by every sketch.

Design mirrors the *role* of the reference's shared hasher
(``/root/reference/src/hash_keys.cpp:81-255`` — one canonicalisation +
hash pipeline used by both Bloom build and probe, so a key can never
hash differently on the two sides), re-expressed for Spark:

- JVM-side: join keys are canonicalised by explicit casts (Catalyst's
  own type coercion) and hashed with ``F.xxhash64`` inside whole-stage
  codegen — the hot path never leaves the JVM.
- Python-side (sketch ingestion inside Arrow batches): numpy
  splitmix64 over int64/float64 arrays; variable-length strings hash
  via a vectorized byte-polynomial kernel over the flat Arrow utf8
  buffers (``hash_utf8_arrow``).  No per-row Python.

Canonicalisation rules ported from the reference's invariant
(``src/hash_keys.cpp:45-68``): two values that are join-equal must hash
identically —
  * ``-0.0`` hashes as ``+0.0``          (``src/hash_keys.cpp:50-51``)
  * every NaN/null of any type hashes to one sentinel
    (``src/hash_keys.cpp:46-48``)
  * integers hash as their double value so int 5 == double 5.0
    (``src/hash_keys.cpp:148-181``) — except int64 beyond 2^53 which we
    keep exact (Spark joins long==long exactly).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fixed seeds — deterministic across executors; that determinism is what
# makes partial sketches mergeable (same role as the fixed seeds in
# /root/reference/src/BloomFilter.cpp:21-22, different constants).
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)

#: hash value reserved for NULL/NaN keys (any type) — one sentinel so
#: NA==NA under sketch membership, mirroring src/hash_keys.cpp:46-48.
NULL_SENTINEL = np.uint64(0xD1B54A32D192ED03)

#: version of the canonical hash kernels.  Bump whenever any kernel
#: changes the hash VALUE of some input (v1 → v2: the >16 KiB long-row
#: word-lane kernel changed long-string hashes).  Every durable row
#: (checkpoint partials, store partials, Bloom index rows) carries it
#: through :func:`stamp_hash_format`, and :func:`foreign_hash_format`
#: reads it back: rows of another version would mix incompatible hashes
#: (HLL double-counts, Bloom misses membership), so they are never
#: merged or probed.
HASH_FORMAT = 2

#: the column that stamps a durable row with the HASH_FORMAT that hashed it
_STAMP = "hash_format"

_U64 = np.uint64


def stamp_hash_format(df: DataFrame) -> DataFrame:
    """``df`` with every row stamped with this build's ``HASH_FORMAT``."""
    return df.withColumn(_STAMP, F.lit(HASH_FORMAT))


def foreign_hash_format(df: DataFrame) -> Column:
    """Each row's stamp read back: null on a row this build hashed,
    else its foreign stamp as text, ``"None"`` for a row with none (a
    missing column reads as null, and null counts as foreign)."""
    fmt = F.col(_STAMP) if _STAMP in df.columns else F.lit(None)
    return F.when(~fmt.eqNullSafe(HASH_FORMAT), F.coalesce(fmt.cast("string"), F.lit("None")))


def hash_format_mismatch(what: str, found) -> str | None:
    """Why ``what`` cannot be merged or probed, given the values
    :func:`foreign_hash_format` read from it; None when all are null."""
    found = sorted({f for f in found if f is not None})
    if not found:
        return None
    return (f"{what} holds hash format(s) [{', '.join(found)}], this library "
            f"hashes format {HASH_FORMAT}")


def refuse_foreign_hash_format(df: DataFrame, what: str, remedy: str) -> DataFrame:
    """``df`` under a per-row guard that runs no job: the query that reads
    a foreign row raises ``SparkRuntimeException`` [USER_RAISED_EXCEPTION]
    worded as :func:`hash_format_mismatch` for that row, then ``remedy``."""
    foreign = foreign_hash_format(df)
    head, tail = hash_format_mismatch(what, ["\0"]).split("\0")  # around the stamp
    msg = F.concat(F.lit(head), foreign, F.lit(tail + remedy))
    return df.where(F.when(foreign.isNull(), True).otherwise(F.raise_error(msg)))


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += _GOLDEN
        x ^= x >> _U64(30)
        x *= _MIX1
        x ^= x >> _U64(27)
        x *= _MIX2
        x ^= x >> _U64(31)
    return x


def hash_int64(values: np.ndarray, seed: int = 0) -> np.ndarray:
    """Hash an int64/uint64 array to uint64 (no canonicalisation)."""
    v = values.astype(np.uint64, copy=False)
    if seed:
        v = v ^ _U64(seed)
    return splitmix64(v)


def hash_float64(values: np.ndarray, seed: int = 0) -> np.ndarray:
    """Canonical double hash: -0→+0, NaN→NULL_SENTINEL."""
    v = values.astype(np.float64, copy=True)
    nan_mask = np.isnan(v)
    v[v == 0.0] = 0.0  # folds -0.0 into +0.0
    v[nan_mask] = 0.0
    out = hash_int64(v.view(np.uint64), seed)
    out[nan_mask] = NULL_SENTINEL  # final hash value, same for every type
    return out


def hash_numeric_array(arr: np.ndarray, seed: int = 0) -> np.ndarray:
    """Canonical hash of a numeric numpy array — the ONE dispatch both
    build (Arrow batches) and query (pandas) must share: values exactly
    representable in float64 hash as doubles (cross-type: int 5 ==
    double 5.0), int64 magnitudes beyond 2^53 hash as exact integer
    bits (Spark joins long==long exactly; rounding them to double would
    collide distinct keys and break CMS/Bloom/HLL guarantees)."""
    if arr.dtype.kind in "iu":
        as_f = arr.astype(np.float64)
        if arr.dtype.itemsize < 8:
            return hash_float64(as_f, seed)  # always ≤ 2^53
        with np.errstate(over="ignore"):
            if arr.dtype.kind == "u":
                safe = arr <= np.uint64(1 << 53)
            else:
                safe = np.abs(arr) <= (1 << 53)
        if safe.all():
            return hash_float64(as_f, seed)
        return np.where(
            safe, hash_float64(as_f, seed), hash_int64(arr.astype(np.int64), seed)
        ).astype(np.uint64)
    return hash_float64(arr.astype(np.float64, copy=False), seed)


_FNV_PRIME = np.uint64(0x100000001B3)

#: rows longer than this hash via the per-row word-lane kernel instead
#: of the column-wise byte loop: one multi-megabyte row must not turn
#: into millions of near-empty Python-level column passes (each pass
#: costs ~µs of searchsorted+gather overhead regardless of how few rows
#: are still active).
_LONG_ROW_CUTOFF = 1 << 14


def _hash_long_bytes_u64(row_bytes: np.ndarray, seed: int) -> np.uint64:
    """O(len/8) fully-vectorized hash of ONE long row: the bytes are
    viewed as 8-byte word lanes, each mixed with a position-and-length
    keyed splitmix64 (order sensitivity without a sequential chain),
    XOR-reduced, then finalized with length and seed."""
    L = int(row_bytes.size)
    nwords = (L + 7) // 8
    buf = np.zeros(nwords * 8, dtype=np.uint8)
    buf[:L] = row_bytes
    w = buf.view(np.uint64)
    with np.errstate(over="ignore"):
        pos = splitmix64(
            np.arange(nwords, dtype=np.uint64) + _U64(L) * _GOLDEN + _U64(seed)
        )
        acc = np.bitwise_xor.reduce(splitmix64(w ^ pos))
        fin = np.array([acc ^ (_U64(L) * _MIX1) ^ _U64(seed)], dtype=np.uint64)
    return splitmix64(fin)[0]


def hash_utf8_arrow(arr, seed: int = 0) -> np.ndarray:
    """Vectorized canonical hash of an Arrow string/binary array —
    ZERO-COPY over the flat utf8 data buffer (one offsets array + one
    byte buffer), no per-row object materialization.  This is the
    canonical string hash: ``hash_strings`` routes pandas input through
    the same kernel, so sketch build (Arrow batches) and query (pandas)
    can never disagree.

    Algorithm: splitmix64(length ^ seed) init, FNV-style byte polynomial
    computed COLUMN-WISE — after a length-descending sort, pass j's
    active rows are a contiguous prefix, so the total work is O(total
    bytes) of vectorized gathers in max_len passes — then a splitmix64
    finalizer.  Rows longer than ``_LONG_ROW_CUTOFF`` bytes are hashed
    individually by the vectorized word-lane kernel instead (a row's
    hash depends only on its own bytes+length+seed, never on batch
    composition), so worst-case Python-loop iterations are bounded by
    the cutoff plus the number of long rows while total work stays
    O(total bytes).  Nulls → NULL_SENTINEL.

    FORMAT NOTE: the long-row kernel changed the hash VALUES of rows
    over the cutoff (``HASH_FORMAT`` 1 → 2); short-row hashes are
    unchanged.  Partials of another format would double-count those
    rows (HLL) or miss their membership (Bloom), so their per-row stamp
    keeps them out of every merge and probe (:func:`foreign_hash_format`)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    off_dt = np.int64 if large else np.int32
    null_mask = (
        np.asarray(arr.is_null()) if arr.null_count else np.zeros(n, dtype=bool)
    )
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dt, count=arr.offset + n + 1)[
        arr.offset:
    ]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    starts = offsets[:-1].astype(np.int64)
    lens = (offsets[1:] - offsets[:-1]).astype(np.int64)
    lens = np.where(null_mask, 0, lens)
    order = np.argsort(-lens, kind="stable")
    ls, ss = lens[order], starts[order]
    # long rows sit at the front after the sort; count of len > cutoff
    n_long = int(np.searchsorted(-ls, -_LONG_ROW_CUTOFF, side="left"))
    h = splitmix64(ls.astype(np.uint64) ^ _U64(seed))
    with np.errstate(over="ignore"):
        max_short = int(ls[n_long]) if n_long < ls.size else 0
        for j in range(max_short):
            k = int(np.searchsorted(-ls, -j, side="left"))  # rows with len > j
            if k <= n_long:
                break
            sl = slice(n_long, k)
            h[sl] = (h[sl] ^ data[ss[sl] + j].astype(np.uint64)) * _FNV_PRIME
    h = splitmix64(h)
    for i in range(n_long):
        h[i] = _hash_long_bytes_u64(data[ss[i] : ss[i] + ls[i]], seed)
    out = np.empty(n, dtype=np.uint64)
    out[order] = h
    out[null_mask] = NULL_SENTINEL
    return out


def _text(v) -> str:
    if isinstance(v, (bytes, bytearray)):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            pass
    return str(v)


def hash_strings(values: pd.Series | np.ndarray, seed: int = 0) -> np.ndarray:
    """Hash a string array to uint64 — same kernel as the Arrow ingest
    fast path (``hash_utf8_arrow``); the pandas→Arrow conversion is
    C-speed.  utf8 bytes hash as their text; any other object, and bytes
    that are not utf8, canonicalise via ``str()`` — value by value, so a
    value hashes the same whatever else the array holds.
    Nulls → NULL_SENTINEL."""
    import pyarrow as pa

    if isinstance(values, pd.Series):
        arr = values.to_numpy(dtype=object)
    else:
        arr = np.asarray(values, dtype=object)
    try:
        pa_arr = pa.array(arr, type=pa.string(), from_pandas=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        null_mask = pd.isna(arr)
        as_str = np.array(
            ["" if m else _text(v) for v, m in zip(arr, null_mask)], dtype=object
        )
        pa_arr = pa.array(as_str, type=pa.string())
        out = hash_utf8_arrow(pa_arr, seed)
        out[null_mask] = NULL_SENTINEL
        return out
    return hash_utf8_arrow(pa_arr, seed)


def hash_series(s: pd.Series, seed: int = 0) -> np.ndarray:
    """Canonical uint64 hash of one pandas column.

    Dispatch mirrors the type switch in src/hash_keys.cpp:147-243, by
    the pandas dtype: numeric → :func:`hash_numeric_array`; bool →
    0.0/1.0; datetime64 → wall-clock epoch seconds as a double
    (``ns → float64 → / 1e9``); anything else → :func:`hash_strings`,
    which hashes strings by the utf8 kernel and other objects by their
    ``str()`` (a date by its ISO string, so a date and a timestamp of
    the same instant hash apart).  Nulls of every type collapse to
    NULL_SENTINEL.  A pandas dtype can depend on the batch (a null turns
    a bigint column into float64); Arrow batches hash through
    :func:`hash_arrow`, by the column's type.
    """
    if pd.api.types.is_bool_dtype(s):
        return hash_float64(s.fillna(np.nan).astype(np.float64).to_numpy())
    if pd.api.types.is_datetime64_any_dtype(s):
        # epoch seconds as double — Date == timestamp at equal instants
        vals = s.to_numpy(dtype="datetime64[ns]").view("int64").astype(np.float64) / 1e9
        out = hash_float64(vals, seed)
        out[s.isna().to_numpy()] = NULL_SENTINEL
        return out
    if pd.api.types.is_integer_dtype(s):
        arr = s.to_numpy()
        null_mask = s.isna().to_numpy()
        if null_mask.any():  # nullable Int64 → mask then hash
            arr = s.fillna(0).to_numpy(dtype=np.int64)
        out = hash_numeric_array(arr, seed).copy()
        out[null_mask] = NULL_SENTINEL
        return out
    if pd.api.types.is_float_dtype(s):
        return hash_float64(s.to_numpy(dtype=np.float64), seed)
    # strings / objects / categoricals
    if isinstance(s.dtype, pd.CategoricalDtype):
        s = s.astype(object)  # hash by level string: factor == character
    return hash_strings(s, seed)


def hash_arrow(col, seed: int = 0) -> np.ndarray:
    """Canonical uint64 hash of one Arrow key column, by its type alone,
    so a key hashes the same whatever else its batch holds.  Integers
    of every width hash by their int64 value (:func:`hash_numeric_array`:
    exact bits beyond 2^53); floats and booleans as doubles (0.0/1.0);
    strings by :func:`hash_utf8_arrow`; every other type (binary,
    decimal, date, timestamp) by :func:`hash_series` of its
    ``to_pandas()``, a timestamp with a zone at its wall clock there.
    Nulls → NULL_SENTINEL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = col.type
    if pa.types.is_integer(t):
        out = hash_numeric_array(
            pc.cast(col.fill_null(0), pa.int64()).to_numpy(zero_copy_only=False), seed
        )
        if col.null_count:
            out[col.is_null().to_numpy(zero_copy_only=False)] = NULL_SENTINEL
        return out
    if pa.types.is_floating(t) or pa.types.is_boolean(t):
        return hash_float64(pc.cast(col, pa.float64()).to_numpy(zero_copy_only=False), seed)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return hash_utf8_arrow(col, seed)
    if pa.types.is_timestamp(t) and t.tz is not None:
        col = pc.local_timestamp(col)
    return hash_series(col.to_pandas(), seed)


def combine_hashes(parts: list[np.ndarray]) -> np.ndarray:
    """Order-sensitive combine of per-column hashes into one row hash."""
    acc = np.full(parts[0].shape, _U64(0x726F77686173686B), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for p in parts:
            # rotl(acc,23) ^ p, then golden-ratio multiply
            acc = ((acc << _U64(23)) | (acc >> _U64(41))) ^ p
            acc *= _GOLDEN
    return splitmix64(acc)


def hash_columns(pdf: pd.DataFrame, cols: list[str], seed: int = 0) -> np.ndarray:
    """Canonical row hash over ≥1 key columns of an Arrow batch."""
    if len(cols) == 1:
        return hash_series(pdf[cols[0]], seed)
    return combine_hashes([hash_series(pdf[c], seed) for c in cols])


def hash_tokens_flat(token_lists: pd.Series, seed: int = 0) -> np.ndarray:
    """Flatten an array<int32> column (one Arrow batch) and hash every
    token id — explode-free: one np.concatenate over the list values,
    no per-row Python. Empty/null lists contribute nothing."""
    chunks = [np.asarray(t, dtype=np.int64) for t in token_lists if t is not None and len(t)]
    if not chunks:
        return np.empty(0, dtype=np.uint64)
    flat = np.concatenate(chunks)
    return hash_numeric_array(flat, seed)
