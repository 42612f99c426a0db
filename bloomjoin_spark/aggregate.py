"""Two-phase distributed sketch aggregation.

Phase 1 (executors): one sketch partial per input partition, built
inside ``mapInArrow`` / ``mapInPandas`` — Arrow batches in, numpy
hashing, zero per-row Python. Each partial travels as one row
``(partition_id, n_rows, fingerprint, blob)``. Every partial stage
goes through :func:`partial_stage`. A cached input is narrowed
(``coalesce``, no shuffle) to ⌈plan bytes / ``_PY_TASK_BYTES``⌉ Python
tasks, because every Python task pays a fixed cost before any
hashing (the zips on the worker's import path are re-read once per
worker process, not per task, see ``_worker``; docs/PLANS.md §35);
its input partition id rides in as a leading ``__pid``
column, and each task streams its input partitions one after another
and builds one partial per run of equal ``__pid``, so partials,
fingerprints and blobs are the same as with one task per partition.
Any other input (file scans, whose size is only estimated) runs one
task per input partition.

Token columns (``token_col``) are flattened zero-copy and collapsed by
one bincount per batch (:func:`_token_histogram`) into (distinct id,
count) pairs: hash sketches hash the distinct ids only, CMS adds the
counts, and t-digest ingests the histogram as weighted values. KLL
still takes every token instance.

Phase 2 (tree merge): while more partials remain than ``fanin``, group
them ``pmod(partition_id, ngroups)`` and OR/max/add-merge each group in
``applyInPandas``; final ≤fanin blobs merge on the driver.  This is the
treeAggregate shape — at 100k input partitions the driver never holds
100k blobs (a 1 MiB Bloom partial × 100k = 100 GiB if collected flat).

Lineage / resume: partials can be checkpointed to parquet keyed by
partition id + content fingerprint; a re-run recomputes ONLY missing
partition ids (a resume runs one task per input partition, and tasks
for done partitions yield without consuming their input iterator, so
the columnar scan for them is never materialized).

Reference analog: ``rcpp_filter_keys`` builds one global filter in one
pass (``/root/reference/src/BloomFilter.cpp:85-165``); merge-order
invariance of our partials is what guarantees the same global sketch.
"""

from __future__ import annotations

import itertools
import math
import os
import warnings
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from operator import itemgetter

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .hashing import (
    NULL_SENTINEL,
    hash_columns,
    hash_float64,
    hash_numeric_array,
    hash_tokens_flat,
    hash_utf8_arrow,
)
from .sketches.base import Sketch
from .sketches.bloom import BloomSketch

PARTIAL_SCHEMA = (
    "partition_id long, n_partials long, n_rows long, fingerprint long, blob binary"
)

#: bincount pre-aggregation bound for non-negative int token ids
#: (typical LLM vocabs are ≤ a few hundred thousand)
_BINCOUNT_MAX = 1 << 22


def _token_histogram(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray] | None:
    """``(distinct ids as float64, counts)`` of a flat token-id array
    whose ids are non-negative ints under ``_BINCOUNT_MAX``, else None
    (float64: the canonical numeric hash and t-digest input). One sequential
    bincount collapses millions of token instances to ≤ vocab distinct
    ids, so hashing and the weighted sketches (CMS, t-digest) work on
    O(vocab) values instead of O(n)."""
    if arr.dtype.kind in "iu" and arr.size and 0 <= arr.min() and arr.max() < _BINCOUNT_MAX:
        cnt = np.bincount(arr)
        vals = np.nonzero(cnt)[0]
        return vals.astype(np.float64), cnt[vals]
    return None


#: single-column dtypes eligible for the Arrow fast path — numerics
#: (hash_numeric_array = the exact hash_series dispatch) and strings
#: (hash_utf8_arrow over flat utf8 buffers = the hash_strings kernel)
_ARROW_NUMERIC = {
    "tinyint", "smallint", "int", "integer", "bigint", "long",
    "float", "double", "short", "byte",
}
_ARROW_FAST = _ARROW_NUMERIC | {"string"}

#: plan bytes one partial-building Python task covers, applied to
#: cached inputs only, the one traffic it was measured on. Chosen when
#: a task cost ~0.25 CPU-s before any hashing and the token lanes ~0.19
#: CPU-s per plan-MB (extrapolated from 4-15 MB inputs, docs/PLANS.md
#: §33). That premise no longer holds: with ``_worker`` a one-task no-op
#: ``mapInArrow`` costs ~0.1 CPU-s, near a JVM count, and the token
#: lanes' per-MB cost fell with the t-digest histogram (§35). Kept until
#: it is re-derived from the verify skill's fixed-cost step.
_PY_TASK_BYTES = 64 << 20

#: Catalyst's "unknown" sizeInBytes (Long.MaxValue) and anything above it
_UNKNOWN_SIZE = (1 << 63) - 1


def _input_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df``'s physical plan, read without a job;
    None for an adaptive plan, whose count only running it would tell."""
    try:
        if df._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan":
            return None
        return df.rdd.getNumPartitions()
    except Exception:
        return None


def _python_tasks(df: DataFrame, n_in: int) -> int:
    """``min(n_in, ⌈plan sizeInBytes / _PY_TASK_BYTES⌉)`` for a plan
    that reads only cached relations; ``n_in`` for any other plan and
    when the stats are unknown or overflow.  A file scan's size is an
    estimate from default column widths, and merging its splits would
    merge the scan itself, so it keeps one task per partition."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        if any(
            leaves.apply(i).nodeName() != "InMemoryRelation"
            for i in range(leaves.size())
        ):
            return n_in
        size = int(plan.stats().sizeInBytes())
    except Exception:
        return n_in
    if size >= _UNKNOWN_SIZE:
        return n_in
    return min(n_in, max(1, -(-size // _PY_TASK_BYTES)))


def _cut(chunk, lo: int, hi: int, pandas: bool):
    return chunk.iloc[lo:hi] if pandas else chunk.slice(lo, hi - lo)


def _concat(parts: list, pandas: bool):
    if len(parts) == 1:
        return parts[0]
    if pandas:
        return pd.concat(parts, ignore_index=True)
    import pyarrow as pa

    return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]


def _pid_runs(it, pandas: bool, batch_rows: int):
    """``(pid, chunk)`` pairs of a ``__pid``-led Arrow or pandas stream;
    each chunk holds one pid's rows without the ``__pid`` column.

    A coalesced task's batches straddle partition boundaries, so a
    partition's rows are re-cut into ``batch_rows``-row chunks counted
    from its first row: the batches it arrives in with a task of its
    own, which keeps batch-dependent sketch state (Bloom ``n_added``,
    t-digest and KLL compaction) identical.  At most two incoming
    batches are held; when they do not add up to ``batch_rows`` (Spark
    cut them by bytes, or the partition ended) they go out as one."""
    cur, pend, n_pend = None, [], 0
    for chunk in it:
        if len(chunk) == 0:
            continue
        pids = (chunk["__pid"] if pandas else chunk.column(0)).to_numpy()
        data = chunk.iloc[:, 1:] if pandas else chunk.drop_columns(["__pid"])
        cuts = np.flatnonzero(pids[1:] != pids[:-1]) + 1
        for lo, hi in zip([0, *cuts], [*cuts, len(pids)]):
            if pids[lo] != cur:
                if pend:
                    yield cur, _concat(pend, pandas)
                cur, pend, n_pend = int(pids[lo]), [], 0
            pend.append(_cut(data, lo, hi, pandas))
            n_pend += hi - lo
            while 0 < batch_rows <= n_pend:
                whole = _concat(pend, pandas)
                yield cur, _cut(whole, 0, batch_rows, pandas)
                n_pend -= batch_rows
                pend = [_cut(whole, batch_rows, len(whole), pandas)] if n_pend else []
            if len(pend) > 1:
                yield cur, _concat(pend, pandas)
                pend, n_pend = [], 0
    if pend:
        yield cur, _concat(pend, pandas)


def _uncounted(out, pandas: bool):
    """``out`` with ``n_partials`` 0: a marker, not an input partition."""
    if pandas:
        return out.assign(n_partials=0)
    import pyarrow as pa

    i = out.schema.get_field_index("n_partials")
    return out.set_column(i, "n_partials", pa.array([0] * out.num_rows, pa.int64()))


def _per_partition(
    build, pandas: bool, batch_rows: int, done_ids: frozenset[int], coalesced: bool
):
    """The ``mapInArrow`` / ``mapInPandas`` function around
    ``build(pid, chunks)``.

    One task per input partition: ``build`` runs once with the task's
    partition id, also on a partition without rows, and a partition in
    ``done_ids`` returns before pulling its input, so a resume never
    scans the done partitions.

    Coalesced: ``build`` runs once per run of equal ``__pid``.  A
    coalesced task reads its input partitions one after another, so
    each run is contiguous and streams through without buffering.  An
    input partition without rows leaves no partial; a task that saw no
    rows at all emits one empty partial under the negative id
    ``-1 - task`` with ``n_partials`` 0, so every call writes at least
    one partial row (a store snapshot re-ingested empty is replaced)
    and no input partition is counted twice."""

    def fn(it):
        tc = TaskContext.get()
        task = tc.partitionId() if tc is not None else -1
        if not coalesced:
            if task not in done_ids:
                yield from build(task, it)
            return
        seen = False
        runs = _pid_runs(it, pandas, batch_rows)
        for pid, run in itertools.groupby(runs, key=itemgetter(0)):
            seen = True
            yield from build(pid, (chunk for _, chunk in run))
        if not seen:
            for out in build(-1 - task, iter(())):
                yield _uncounted(out, pandas)

    return fn


def partial_stage(
    df: DataFrame,
    keep: list[str],
    build: Callable,
    schema: str,
    pandas: bool = False,
    done_ids: frozenset[int] = frozenset(),
) -> tuple[DataFrame, int | None]:
    """The one Python stage every sketch-partial build goes through;
    ``build(pid, chunks)`` yields one input partition's partial rows.

    A cached input of ``P`` partitions (and no ``done_ids``) is
    narrowed (``coalesce``: no shuffle, no extra job) to ``min(P,
    ⌈plan bytes / _PY_TASK_BYTES⌉)`` Python tasks, with the input
    partition id riding in as a leading ``__pid`` column; every other
    input runs one task per partition, and a resume skips the
    partitions in ``done_ids`` without scanning them.  See
    :func:`_per_partition` for the partials each lane emits.

    Returns ``(partials, P)``; ``P`` is None for an adaptive plan, which
    keeps one task per partition."""
    staged = df.select(*keep)
    n_in = _input_partitions(staged)
    n_tasks = n_in
    if n_in and not done_ids:
        n_tasks = _python_tasks(staged, n_in)
    coalesced = n_tasks is not None and n_tasks < n_in
    if coalesced:
        staged = df.select(F.spark_partition_id().alias("__pid"), *keep)
        staged = staged.coalesce(n_tasks)
    batch_rows = int(
        df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    fn = _per_partition(build, pandas, batch_rows, done_ids, coalesced)
    if pandas:
        return staged.mapInPandas(fn, schema=schema), n_in
    return staged.mapInArrow(fn, schema=schema), n_in


@dataclass
class BuildResult:
    sketch: Sketch
    n_partitions: int
    n_rows: int
    merge_rounds: int


def _extract_hashes(pdf: pd.DataFrame, cols, token_col, prehashed) -> np.ndarray:
    if prehashed:
        # single int64 column already hashed JVM-side (xxhash64)
        return pdf[cols[0]].to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
    if token_col is not None:
        return hash_tokens_flat(pdf[token_col])
    return hash_columns(pdf, list(cols))


def _extract_values(pdf: pd.DataFrame, cols, token_col) -> np.ndarray:
    """float64 value array for quantile sketches (NaN = null)."""
    if token_col is not None:
        chunks = [
            np.asarray(t, dtype=np.float64)
            for t in pdf[token_col]
            if t is not None and len(t)
        ]
        return np.concatenate(chunks) if chunks else np.empty(0, dtype=np.float64)
    return pdf[cols[0]].to_numpy(dtype=np.float64, na_value=np.nan)


def make_partial_fn(
    factory: Callable[[], Sketch],
    cols: list[str] | None = None,
    token_col: str | None = None,
    prehashed: bool = False,
    drop_nulls: bool = True,
):
    """Build the pandas-lane builder ``(pid, batches)`` → one partial
    row for :func:`partial_stage`. Top-level so cloudpickle ships only
    small state."""

    def partial_fn(pid: int, it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = factory()
        consumes = getattr(sk, "CONSUMES", "hashes")
        n = 0
        fp = np.uint64(0)
        for pdf in it:
            if len(pdf) == 0:
                continue
            if consumes == "values":
                v = _extract_values(pdf, cols, token_col)
                nan_mask = np.isnan(v)
                if nan_mask.any():
                    if hasattr(sk, "add_null"):
                        sk.add_null()
                    v = v[~nan_mask]
                with np.errstate(over="ignore"):
                    fp += v.view(np.uint64).sum(dtype=np.uint64)
                sk.update_values(v)
                n += len(pdf)
                continue
            h = _extract_hashes(pdf, cols, token_col, prehashed)
            with np.errstate(over="ignore"):
                fp += h.sum(dtype=np.uint64)
            _ingest_hashes(sk, h, drop_nulls=drop_nulls and not prehashed)
            n += len(pdf)
        yield pd.DataFrame(
            {
                "partition_id": [pid],
                "n_partials": [1],
                "n_rows": [n],
                "fingerprint": [np.int64(fp.astype(np.int64))],
                "blob": [sk.to_bytes()],
            }
        )

    return partial_fn


def _ingest_hashes(sk: Sketch, h: np.ndarray, drop_nulls: bool = True) -> None:
    """Shared batch-ingest for hash-consuming sketches: null handling +
    set/weighted pre-aggregation (one sort replaces unbuffered scatter)."""
    if drop_nulls:
        null_mask = h == NULL_SENTINEL
        if null_mask.any():
            if hasattr(sk, "add_null"):
                sk.add_null()
            h = h[~null_mask]
    if getattr(sk, "SET_SEMANTICS", False):
        sk.update_hashes(np.unique(h))
    elif getattr(sk, "SUPPORTS_WEIGHTS", False):
        hu, hc = np.unique(h, return_counts=True)
        sk.update_hashes(hu, weights=hc)
    else:
        sk.update_hashes(h)


def make_partial_fn_arrow(
    factory: Callable[[], Sketch],
    token_col: str | None = None,
    prehashed: bool = False,
):
    """Arrow-native partial builder (``mapInArrow``) for the hot cases:
    prehashed int64 keys, ``array<int>`` token columns, single numeric
    columns.  An Arrow list column is ONE flat values buffer + offsets —
    flattening it is zero-copy, versus the Arrow→pandas conversion that
    materializes a numpy object per ROW (millions of small allocations
    per batch; measured 85-94% kernel time from allocator churn at 32
    concurrent workers)."""
    import pyarrow as pa

    def partial_fn(pid, it):
        sk = factory()
        consumes = getattr(sk, "CONSUMES", "hashes")
        n = 0
        fp = np.uint64(0)
        for batch in it:
            if batch.num_rows == 0:
                continue
            col = batch.column(0)
            if consumes == "vectors":
                # matrix sketches (FrequentDirections): the embedding
                # column is an Arrow list — ONE flat float buffer +
                # offsets, so the (n, dim) matrix is a zero-copy
                # flatten + reshape, never a numpy object per row
                if col.null_count:
                    col = col.drop_null()
                if len(col) == 0:
                    continue
                dim = int(getattr(sk, "dim"))
                lens = pa.compute.list_value_length(col).to_numpy(
                    zero_copy_only=False
                )
                if (lens != dim).any():
                    bad = int(lens[lens != dim][0])
                    raise ValueError(
                        f"vector column rows must all have length {dim} "
                        f"(found a row of length {bad})"
                    )
                flat = col.flatten().to_numpy(zero_copy_only=False)
                m = flat.astype(np.float64, copy=False).reshape(-1, dim)
                with np.errstate(over="ignore"):
                    fp += m.reshape(-1).view(np.uint64).sum(dtype=np.uint64)
                sk.update_matrix(m)
                n += m.shape[0]
                continue
            if token_col is not None:
                flat = col.flatten()  # zero-copy: list values trimmed to batch
                arr = flat.to_numpy(zero_copy_only=False)
            else:
                if col.null_count:
                    if hasattr(sk, "add_null"):
                        sk.add_null()
                    col = col.drop_null()
                if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
                    # string keys (doc_id, source — THE common case):
                    # hash the flat utf8 buffers directly, never an
                    # object per row
                    if consumes == "values":
                        raise TypeError(
                            "value-consuming sketches need a numeric column, "
                            f"got string for {type(sk).__name__}"
                        )
                    h = hash_utf8_arrow(col)
                    with np.errstate(over="ignore"):
                        fp += h.sum(dtype=np.uint64)
                    _ingest_hashes(sk, h, drop_nulls=False)
                    n += batch.num_rows
                    continue
                arr = col.to_numpy(zero_copy_only=False)
            hist = None
            if token_col is not None and not prehashed and (
                consumes != "values" or getattr(sk, "SUPPORTS_WEIGHTS", False)
            ):
                hist = _token_histogram(arr)
            if consumes == "values":
                if hist is not None:
                    v, cnt = hist
                    # the per-instance value-bit sum, from the histogram
                    with np.errstate(over="ignore"):
                        fp += (v.view(np.uint64) * cnt.astype(np.uint64)).sum(
                            dtype=np.uint64
                        )
                    sk.update_values(v, weights=cnt)
                    n += batch.num_rows
                    continue
                v = arr.astype(np.float64, copy=False)
                nan_mask = np.isnan(v)
                if nan_mask.any():
                    if hasattr(sk, "add_null"):
                        sk.add_null()
                    v = v[~nan_mask]
                with np.errstate(over="ignore"):
                    fp += v.view(np.uint64).sum(dtype=np.uint64)
                sk.update_values(v)
            else:
                if prehashed:
                    h = arr.astype(np.int64, copy=False).view(np.uint64)
                elif hist is not None:
                    vals, cnt = hist
                    h = hash_float64(vals)
                    # fingerprint = wrapping sum of per-INSTANCE hashes
                    # (weight uniques by multiplicity) so the lineage
                    # fingerprint is identical across ingest paths
                    with np.errstate(over="ignore"):
                        fp += (h * cnt.astype(np.uint64)).sum(dtype=np.uint64)
                    if getattr(sk, "SET_SEMANTICS", False):
                        sk.update_hashes(h)
                    elif getattr(sk, "SUPPORTS_WEIGHTS", False):
                        sk.update_hashes(h, weights=cnt)
                    else:
                        sk.update_hashes(np.repeat(h, cnt))
                    n += batch.num_rows
                    continue
                else:
                    # canonical numeric hash — hash_numeric_array keeps
                    # int64 beyond 2^53 exact, matching the query-side
                    # hash_series dispatch bit for bit
                    h = hash_numeric_array(arr)
                with np.errstate(over="ignore"):
                    fp += h.sum(dtype=np.uint64)
                _ingest_hashes(sk, h, drop_nulls=not prehashed)
            n += batch.num_rows
        yield pa.RecordBatch.from_pydict(
            {
                "partition_id": pa.array([pid], pa.int64()),
                "n_partials": pa.array([1], pa.int64()),
                "n_rows": pa.array([n], pa.int64()),
                "fingerprint": pa.array(
                    [int(np.int64(fp.astype(np.int64)))], pa.int64()
                ),
                "blob": pa.array([sk.to_bytes()], pa.binary()),
            }
        )

    return partial_fn


def _ingest_pdf(
    sk: Sketch,
    pdf: pd.DataFrame,
    cols: list[str] | None,
    token_col: str | None,
    weight_col: str | None = None,
) -> tuple[int, np.uint64]:
    """Feed ONE pandas batch into a sketch through the right lane —
    weighted / vectors / values / hashes — with the null semantics every
    caller must share (the grouped batch builder, the stateful stream,
    and topk_stream all dispatch here, so batch/stream parity cannot
    drift).  Returns (rows_counted, fingerprint_delta): rows_counted is
    the batch row count except on the vectors lane, where NULL vectors
    carry no rows (matching the Arrow vectors lane's accounting)."""
    fp = np.uint64(0)
    if weight_col is not None:
        items = pdf[cols[0]].to_numpy()
        w = pdf[weight_col].to_numpy()
        keep = ~(pd.isna(items) | pd.isna(w))
        if not keep.all():
            if hasattr(sk, "add_null"):
                sk.add_null()
            items, w = items[keep], w[keep]
        iv = items.astype(np.float64)
        with np.errstate(over="ignore"):
            fp += (
                iv.view(np.uint64) * w.astype(np.int64).view(np.uint64)
            ).sum(dtype=np.uint64)
        sk.update_weighted(iv, w)
        return len(pdf), fp
    consumes = getattr(sk, "CONSUMES", "hashes")
    if consumes == "vectors":
        col = pdf[cols[0]]
        vecs = [np.asarray(v, dtype=np.float64) for v in col if v is not None]
        if len(vecs) < len(col) and hasattr(sk, "add_null"):
            sk.add_null()
        if not vecs:
            return 0, fp
        dim = getattr(sk, "dim", None)
        if dim is not None:
            bad = next((v.size for v in vecs if v.size != dim), None)
            if bad is not None:
                raise ValueError(
                    f"vector column rows must all have length {dim} "
                    f"(found a row of length {bad})"
                )
        m = np.stack(vecs)
        with np.errstate(over="ignore"):
            fp += m.reshape(-1).view(np.uint64).sum(dtype=np.uint64)
        sk.update_matrix(m)
        return len(vecs), fp
    if consumes == "values":
        v = _extract_values(pdf, cols, token_col)
        nan_mask = np.isnan(v)
        if nan_mask.any():
            if hasattr(sk, "add_null"):
                sk.add_null()
            v = v[~nan_mask]
        with np.errstate(over="ignore"):
            fp += v.view(np.uint64).sum(dtype=np.uint64)
        sk.update_values(v)
        return len(pdf), fp
    h = (
        hash_tokens_flat(pdf[token_col])
        if token_col is not None
        else hash_columns(pdf, list(cols))
    )
    with np.errstate(over="ignore"):
        fp += h.sum(dtype=np.uint64)
    _ingest_hashes(sk, h)
    return len(pdf), fp


def make_grouped_partial_fn(
    factory: Callable[[], Sketch],
    group_col: str,
    cols: list[str] | None = None,
    token_col: str | None = None,
    weight_col: str | None = None,
):
    """mapInPandas builder: ONE pass over each partition producing one
    partial row per (group key, partition).  Grouping happens inside the
    batch (pandas C groupby), so a K-key input costs one scan — not the
    K filtered passes of filtering the DataFrame per key.

    ``weight_col`` (weighted-frequency sketches only, e.g. TopKSketch):
    each row's item counts ``weight`` times instead of once; rows whose
    weight is NULL are skipped (a NULL weight carries no mass)."""

    def fn(pid: int, it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sks: dict = {}
        counts: dict = {}
        fps: dict = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            for key, sub in pdf.groupby(group_col, dropna=False, sort=False):
                sk = sks.get(key)
                if sk is None:
                    sk = sks[key] = factory()
                    counts[key] = 0
                    fps[key] = np.uint64(0)
                n_in, fp_delta = _ingest_pdf(sk, sub, cols, token_col, weight_col)
                with np.errstate(over="ignore"):
                    fps[key] += fp_delta
                counts[key] += n_in
        if not sks:
            return
        keys = list(sks)
        yield pd.DataFrame(
            {
                group_col: keys,
                "partition_id": [pid] * len(keys),
                "n_partials": [1] * len(keys),
                "n_rows": [counts[k] for k in keys],
                "fingerprint": [np.int64(fps[k].astype(np.int64)) for k in keys],
                "blob": [sks[k].to_bytes() for k in keys],
            }
        )

    return fn


def make_grouped_partial_fn_arrow(
    factory: Callable[[], Sketch],
    group_col: str,
    cols: list[str] | None = None,
    token_col: str | None = None,
):
    """Arrow-native grouped partial builder (``mapInArrow``) for the hot
    grouped lanes: ``array<int>`` token columns, single string columns,
    and single numeric value columns.  The pandas builder materializes a
    numpy object per ROW (token arrays) or per cell before its C
    groupby — at 2M rows that conversion alone dominated the scan
    (measured: grouped top-k partials 1.96 s of a 2.0 s cell).  Here
    the batch stays columnar: group codes come from one
    ``dictionary_encode``, rows sort once (stable — within-group order
    is preserved, so sketch update order matches the pandas builder),
    and each group ingests a SLICE of the flat hash/value array.
    Null group keys form their own group (pandas ``dropna=False``
    parity)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    consumes = getattr(factory(), "CONSUMES", "hashes")

    def fn(pid, it):
        sks: dict = {}
        counts: dict = {}
        fps: dict = {}
        gtype_pa = None

        def group_sketch(key):
            sk = sks.get(key)
            if sk is None:
                sk = sks[key] = factory()
                counts[key] = 0
                fps[key] = np.uint64(0)
            return sk

        for batch in it:
            if batch.num_rows == 0:
                continue
            gcol = batch.column(batch.schema.get_field_index(group_col))
            if gtype_pa is None:
                gtype_pa = gcol.type
            denc = pc.dictionary_encode(gcol)
            if isinstance(denc, pa.ChunkedArray):
                denc = denc.combine_chunks()
            keys = denc.dictionary.to_pylist()
            codes = pc.fill_null(
                pc.cast(denc.indices, pa.int64()), len(keys)
            ).to_numpy(zero_copy_only=False)
            has_null_key = bool(gcol.null_count)
            if has_null_key:
                keys = keys + [None]
            dcol = batch.column(
                batch.schema.get_field_index(
                    token_col if token_col is not None else cols[0]
                )
            )
            if token_col is not None:
                # token lane: flatten once (zero-copy), repeat codes by
                # list length, stable-sort the FLAT codes → per-group
                # contiguous token slices in original order
                lens = pc.list_value_length(dcol).to_numpy(
                    zero_copy_only=False
                )
                lens = np.nan_to_num(lens, nan=0).astype(np.int64)
                flat = dcol.flatten().to_numpy(zero_copy_only=False)
                if consumes == "values":
                    x_all = flat.astype(np.float64, copy=False)
                else:
                    x_all = hash_numeric_array(
                        flat.astype(np.int64, copy=False)
                    )
                flat_codes = np.repeat(codes, lens)
                order = np.argsort(flat_codes, kind="stable")
                sorted_codes = flat_codes[order]
                bounds = np.searchsorted(
                    sorted_codes, np.arange(len(keys) + 1)
                )
                row_counts = np.bincount(codes, minlength=len(keys))
                for ci, key in enumerate(keys):
                    if not row_counts[ci]:
                        continue
                    sk = group_sketch(key)
                    x = x_all[order[bounds[ci]:bounds[ci + 1]]]
                    if consumes == "values":
                        nan_mask = np.isnan(x)
                        if nan_mask.any():
                            if hasattr(sk, "add_null"):
                                sk.add_null()
                            x = x[~nan_mask]
                        with np.errstate(over="ignore"):
                            fps[key] += x.view(np.uint64).sum(dtype=np.uint64)
                        sk.update_values(x)
                    else:
                        with np.errstate(over="ignore"):
                            fps[key] += x.sum(dtype=np.uint64)
                        _ingest_hashes(sk, x)
                    counts[key] += int(row_counts[ci])
                continue
            order = np.argsort(codes, kind="stable")
            sorted_codes = codes[order]
            bounds = np.searchsorted(sorted_codes, np.arange(len(keys) + 1))
            if consumes == "values":
                v_all = dcol.to_numpy(zero_copy_only=False).astype(
                    np.float64, copy=False
                )
            else:
                # single string column: flat-utf8 kernel, nulls →
                # NULL_SENTINEL (dropped per group by _ingest_hashes,
                # which also records add_null — hash_series parity)
                h_all = hash_utf8_arrow(dcol)
            for ci, key in enumerate(keys):
                lo, hi = bounds[ci], bounds[ci + 1]
                if lo == hi:
                    continue
                sk = group_sketch(key)
                rows = order[lo:hi]
                if consumes == "values":
                    v = v_all[rows]
                    nan_mask = np.isnan(v)
                    if nan_mask.any():
                        if hasattr(sk, "add_null"):
                            sk.add_null()
                        v = v[~nan_mask]
                    with np.errstate(over="ignore"):
                        fps[key] += v.view(np.uint64).sum(dtype=np.uint64)
                    sk.update_values(v)
                else:
                    h = h_all[rows]
                    with np.errstate(over="ignore"):
                        fps[key] += h.sum(dtype=np.uint64)
                    _ingest_hashes(sk, h)
                counts[key] += int(hi - lo)
        if not sks:
            return
        ks = list(sks)
        yield pa.RecordBatch.from_pydict(
            {
                group_col: pa.array(ks, type=gtype_pa),
                "partition_id": pa.array([pid] * len(ks), pa.int64()),
                "n_partials": pa.array([1] * len(ks), pa.int64()),
                "n_rows": pa.array([counts[k] for k in ks], pa.int64()),
                "fingerprint": pa.array(
                    [int(np.int64(fps[k].astype(np.int64))) for k in ks],
                    pa.int64(),
                ),
                "blob": pa.array([sks[k].to_bytes() for k in ks], pa.binary()),
            }
        )

    return fn


def grouped_sketch_partials(
    df: DataFrame,
    factory: Callable[[], Sketch],
    group_col: str,
    cols: list[str] | str | None = None,
    token_col: str | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """One partial row per (group key, input partition) in a single
    scan. Output schema: (group_col, partition_id, n_partials, n_rows,
    fingerprint, blob).

    Hot grouped lanes (token arrays, single string column, single
    numeric value column) run Arrow-native — flat buffers, one
    dictionary-encode + stable sort per batch, never a numpy object per
    row; weighted / multi-column / other-typed inputs keep the pandas
    builder."""
    if isinstance(cols, str):
        cols = [cols]
    keep = [group_col] + (list(cols) if cols else [token_col])
    if weight_col is not None:
        if not cols or len(cols) != 1:
            raise ValueError(
                "weight_col needs exactly one item column in cols "
                f"(got cols={cols!r}, token_col={token_col!r})"
            )
        keep.append(weight_col)
    gtype = dict(df.dtypes)[group_col]
    schema = f"`{group_col}` {gtype}, {PARTIAL_SCHEMA}"
    dtypes = dict(df.dtypes)
    consumes = getattr(factory(), "CONSUMES", "hashes")
    col_dtype = dtypes.get(cols[0], "").lower() if cols else ""
    arrow_ok = weight_col is None and consumes != "vectors" and (
        (token_col is not None and consumes in ("hashes", "values"))
        or (
            cols is not None
            and len(cols) == 1
            and (
                (consumes == "hashes" and col_dtype == "string")
                or (consumes == "values" and col_dtype in _ARROW_NUMERIC)
            )
        )
    )
    if arrow_ok:
        build = make_grouped_partial_fn_arrow(factory, group_col, cols, token_col)
    else:
        build = make_grouped_partial_fn(factory, group_col, cols, token_col, weight_col)
    return partial_stage(df, keep, build, schema, pandas=not arrow_ok)[0]


def grouped_sketch_estimates(
    df: DataFrame,
    factory: Callable[[], Sketch],
    group_col: str,
    cols: list[str] | str | None = None,
    token_col: str | None = None,
    extract: Callable[[Sketch], float] | None = None,
) -> DataFrame:
    """Per-group sketch estimates, FULLY DISTRIBUTED: one scan emits a
    partial per (group, input partition); one shuffle of those small
    blobs groups each key's partials; an ``applyInPandas`` merge per
    group emits (group, estimate, n_rows).  Per-group sketches are
    never collected to the driver — at 100 TB the group cardinality
    (e.g. per-source or per-domain distinct counts) can be millions,
    and this keeps the driver's footprint at zero while the shuffle
    carries KB-scale blobs instead of raw rows.

    ``extract`` maps the merged group sketch to the emitted value —
    default is ``.estimate()`` (falling back to ``.total``); pass e.g.
    ``lambda s: s.quantile(0.5)`` for per-group medians from a
    t-digest/KLL factory."""
    partials = grouped_sketch_partials(df, factory, group_col, cols, token_col)
    gtype = dict(df.dtypes)[group_col]
    out_schema = f"`{group_col}` {gtype}, estimate double, n_rows long"

    def merge_fn(key, pdf):  # (key, pdf) form; hints confuse eval-type inference
        acc: Sketch | None = None
        for b in pdf["blob"]:
            s = Sketch.from_bytes(bytes(b))
            acc = s if acc is None else acc.merge(s)
        if extract is not None:
            est = extract(acc)
        elif hasattr(acc, "estimate"):
            est = acc.estimate()
        else:
            est = float(getattr(acc, "total", 0.0))
        return pd.DataFrame(
            {
                group_col: [key[0]],
                "estimate": [float(est)],
                "n_rows": [int(pdf["n_rows"].sum())],
            }
        )

    return partials.groupBy(group_col).applyInPandas(merge_fn, out_schema)


def grouped_topk(
    df: DataFrame,
    group_col: str,
    k: int = 10,
    capacity: int | None = None,
    cols: list[str] | str | None = None,
    token_col: str | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group heavy hitters in ONE pass, fully distributed: a
    SpaceSaving partial per (group, input partition), a shuffle of the
    KB-scale blobs, an ``applyInPandas`` merge per group emitting that
    group's top-``k`` as rows ``(group_col, item, count_est, error,
    rank)`` — count-descending with the sketch's deterministic
    tie-break (smaller item first), ``rank`` 1-based, true count ∈
    [count_est − error, count_est] per row.

    The per-group analog of a global SpaceSaving top-k ("hot tokens
    per source" at 100 TB): like :func:`grouped_sketch_estimates`, no
    per-group state ever reaches the driver and the only shuffle
    carries blobs, not rows — a groupBy(group, item).count() +
    window-rank plan shuffles every distinct (group, item) pair
    instead.

    ``capacity`` is the monitored-slot count per sketch (default
    ``max(64, 8·k)``): after merges every item with frequency
    > 2·n_group/capacity is guaranteed monitored and per-item error is
    ≤ n_group/capacity, so capacity ≫ k makes the reported top-k
    trustworthy; capacity ≥ the group's distinct-item count makes it
    EXACT (error 0).

    ``weight_col`` switches to WEIGHTED heavy hitters: each row's item
    counts ``weight`` times (e.g. items = doc ids / part keys, weight =
    n_tok / quantity — "which items carry the most tokens per source"
    without the exact groupBy-sum).  Weights must be integer-valued and
    ≥ 0; ``count_est`` then brackets the true WEIGHT SUM.  Requires
    ``cols`` (one item column); not combinable with ``token_col``."""
    from .sketches.topk import TopKSketch

    if k < 1:
        raise ValueError(f"grouped_topk: k must be >= 1, got {k}")
    cap = capacity if capacity is not None else max(64, 8 * k)
    if cap < k:
        raise ValueError(
            f"grouped_topk: capacity {cap} < k {k} — the sketch cannot "
            "report more items than it monitors"
        )
    partials = grouped_sketch_partials(
        df, lambda: TopKSketch(cap), group_col, cols, token_col, weight_col
    )
    gtype = dict(df.dtypes)[group_col]
    out_schema = (
        f"`{group_col}` {gtype}, item long, count_est long, "
        f"error long, rank int"
    )

    def merge_fn(key, pdf):  # (key, pdf) form; hints confuse eval-type inference
        acc: Sketch | None = None
        for b in pdf["blob"]:
            s = Sketch.from_bytes(bytes(b))
            acc = s if acc is None else acc.merge(s)
        rows = acc.topk()[:k]
        m = len(rows)
        return pd.DataFrame(
            {
                group_col: pd.Series([key[0]] * m),
                "item": pd.Series([r[0] for r in rows], dtype="int64"),
                "count_est": pd.Series([r[1] for r in rows], dtype="int64"),
                "error": pd.Series([r[2] for r in rows], dtype="int64"),
                "rank": pd.Series(range(1, m + 1), dtype="int32"),
            }
        )

    return partials.groupBy(group_col).applyInPandas(merge_fn, out_schema)


MULTI_PARTIAL_SCHEMA = (
    "name string, partition_id long, n_partials long, n_rows long, "
    "fingerprint long, blob binary"
)


def make_multi_partial_fn_arrow(
    factories: dict[str, Callable[[], Sketch]],
    token_col: str,
):
    """One pass, MANY sketches (mapInArrow): the token column is
    flattened once, bincount-preaggregated once, and every sketch
    updates from the shared arrays.  At scale this is the difference
    between K scans of the table and one — the scan (not the sketch
    math) dominates a 100 TB build."""
    import pyarrow as pa

    def partial_fn(pid, it):
        sks = {name: f() for name, f in factories.items()}
        n = 0
        fp = np.uint64(0)
        for batch in it:
            if batch.num_rows == 0:
                continue
            arr = batch.column(0).flatten().to_numpy(zero_copy_only=False)
            n += batch.num_rows
            vals = cnt = h = h_all = None
            hist = _token_histogram(arr)
            if hist is not None:
                vals, cnt = hist
                h = hash_float64(vals)
            else:
                # hashed ONCE, shared by every hash-consuming sketch
                h_all = hash_numeric_array(arr)
            # fingerprint = wrapping sum of per-instance canonical hashes
            # on EVERY path, so lineage fingerprints stay comparable
            with np.errstate(over="ignore"):
                fp += (
                    (h * cnt.astype(np.uint64)).sum(dtype=np.uint64)
                    if h is not None
                    else h_all.sum(dtype=np.uint64)
                )
            for sk in sks.values():
                consumes = getattr(sk, "CONSUMES", "hashes")
                if consumes == "values" and cnt is not None and getattr(
                    sk, "SUPPORTS_WEIGHTS", False
                ):
                    sk.update_values(vals, weights=cnt)
                elif consumes == "values":
                    v = arr.astype(np.float64, copy=False)
                    nan_mask = np.isnan(v)
                    if nan_mask.any():
                        if hasattr(sk, "add_null"):
                            sk.add_null()
                        v = v[~nan_mask]
                    sk.update_values(v)
                elif h is not None:
                    if getattr(sk, "SET_SEMANTICS", False):
                        sk.update_hashes(h)
                    elif getattr(sk, "SUPPORTS_WEIGHTS", False):
                        sk.update_hashes(h, weights=cnt)
                    else:
                        sk.update_hashes(np.repeat(h, cnt))
                else:
                    _ingest_hashes(sk, h_all)
        names = list(sks)
        yield pa.RecordBatch.from_pydict(
            {
                "name": pa.array(names, pa.string()),
                "partition_id": pa.array([pid] * len(names), pa.int64()),
                "n_partials": pa.array([1] * len(names), pa.int64()),
                "n_rows": pa.array([n] * len(names), pa.int64()),
                "fingerprint": pa.array(
                    [int(np.int64(fp.astype(np.int64)))] * len(names), pa.int64()
                ),
                "blob": pa.array([sks[nm].to_bytes() for nm in names], pa.binary()),
            }
        )

    return partial_fn


def _merge_group_multi_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    out = _merge_group_fn(pdf.drop(columns=["name"]))
    out.insert(0, "name", pdf["name"].iloc[0])
    return out


def tree_merge_multi(
    partials: DataFrame, fanin: int = 64, n_parts: int | None = None
) -> tuple[dict[str, "BuildResult"], int]:
    """Distributed tree merge of MULTI_PARTIAL_SCHEMA rows grouped by
    ``name``: repeated fan-in-bounded ``applyInPandas`` merges until ≤
    fanin partials per name remain, then one driver-side merge of the
    survivors.  Shared by ``build_sketches`` (many sketches, one
    column) and ``operators.profile.profile_table`` (one sketch set per
    COLUMN) — the driver never holds more than ~fanin blobs per name.

    ``n_parts`` is the number of input partitions (≥ the DISTINCT
    ``partition_id`` values, = partials per name plus the empty
    partitions that left none).  Callers whose partials come straight
    from a one-task-per-partition scan may omit it (the RDD partition
    count IS that number); callers of :func:`partial_stage`, whose
    tasks are coalesced, and callers reading partials back from storage
    (checkpoint restore) MUST pass it — there the RDD partition count
    reflects the task or parquet layout, not the partial count, and
    under-counting would funnel thousands of blobs into one merge task.
    Each result's ``n_partitions`` is at least a given ``n_parts``."""
    counted = n_parts or 0
    if n_parts is None:
        n_parts = partials.rdd.getNumPartitions()
    n_parts = max(1, n_parts)
    cur = partials
    rounds = 0
    while n_parts > fanin:
        ngroups = math.ceil(n_parts / fanin)
        cur = (
            cur.withColumn("g", F.pmod(F.col("partition_id"), F.lit(ngroups)))
            .groupBy("name", "g")
            .applyInPandas(_merge_group_multi_fn, schema=MULTI_PARTIAL_SCHEMA)
        )
        n_parts = ngroups
        rounds += 1
    out: dict[str, BuildResult] = {}
    acc: dict[str, list] = {}
    for r in sorted(cur.collect(), key=itemgetter("partition_id")):
        acc.setdefault(r["name"], []).append(r)
    for name, rows in acc.items():
        sk = None
        n_rows = 0
        orig = 0
        for r in rows:
            s = Sketch.from_bytes(bytes(r["blob"]))
            sk = s if sk is None else sk.merge(s)
            n_rows += r["n_rows"]
            orig += r["n_partials"]
        out[name] = BuildResult(
            sketch=sk, n_partitions=max(orig, counted), n_rows=n_rows,
            merge_rounds=rounds,
        )
    return out, rounds


def build_sketches(
    df: DataFrame,
    factories: dict[str, Callable[[], Sketch]],
    token_col: str,
    fanin: int = 64,
    checkpoint_dir: str | None = None,
) -> dict[str, BuildResult]:
    """Build several sketches over one token column in a SINGLE pass.
    Returns {name: BuildResult}.  With ``checkpoint_dir``, partials for
    all sketches persist as lineage rows keyed by (name, partition_id);
    a killed job recomputes only missing partitions."""
    spark = df.sparkSession
    done_ids: frozenset[int] = frozenset()
    stamp = True  # fresh dirs get stamped; see marker_present note below
    if checkpoint_dir and _checkpoint_exists(spark, checkpoint_dir):
        stamp, done_ids = _resume_ids(spark, checkpoint_dir)
    partials, n_parts = partial_stage(
        df, [token_col], make_multi_partial_fn_arrow(factories, token_col),
        MULTI_PARTIAL_SCHEMA, done_ids=done_ids,
    )
    if n_parts is None:
        n_parts = partials.rdd.getNumPartitions()
    if checkpoint_dir:
        partials.write.mode("append" if done_ids else "overwrite").parquet(
            checkpoint_dir
        )
        # overwrite mode replaces EVERY partial with current-version
        # data, so the dir is pure-v{HASH_FORMAT} afterwards and must
        # be stamped even when the pre-existing dir was unmarked (an
        # unmarked dir with zero done ids carries nothing forward);
        # append onto an unmarked dir stays unmarked so later resumes
        # keep warning (ADVICE r4)
        if stamp or not done_ids:
            _write_checkpoint_hash_format(spark, checkpoint_dir)
        partials = spark.read.parquet(checkpoint_dir).dropDuplicates(
            ["name", "partition_id"]
        )
        # restored partials: the parquet RDD layout says nothing about
        # how many partials exist per name — count the real ids (cheap
        # distinct over KB-scale lineage rows; a negative id is an empty
        # task's marker, not an input partition)
        true_parts = (
            partials.where(F.col("partition_id") >= 0)
            .select("partition_id").distinct().count()
        )
        n_parts = max(n_parts, true_parts)
    out, rounds = tree_merge_multi(partials, fanin, n_parts=n_parts)
    # an input that produced no partial rows still yields every requested
    # sketch (empty), never a missing key
    for name, f in factories.items():
        if name not in out:
            out[name] = BuildResult(sketch=f(), n_partitions=0, n_rows=0,
                                    merge_rounds=rounds)
    return out


def _merge_group_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas: merge every partial blob in one tree-merge group."""
    acc: Sketch | None = None
    with np.errstate(over="ignore"):
        fp = np.uint64(0)
        for b, f in zip(pdf["blob"], pdf["fingerprint"]):
            s = Sketch.from_bytes(bytes(b))
            acc = s if acc is None else acc.merge(s)
            fp += np.uint64(np.int64(f).astype(np.uint64))
    return pd.DataFrame(
        {
            "partition_id": [int(pdf["partition_id"].min())],
            "n_partials": [int(pdf["n_partials"].sum())],
            "n_rows": [int(pdf["n_rows"].sum())],
            "fingerprint": [np.int64(fp.astype(np.int64))],
            "blob": [acc.to_bytes()],
        }
    )


def sketch_partials(
    df: DataFrame,
    factory: Callable[[], Sketch],
    cols: list[str] | str | None = None,
    token_col: str | None = None,
    prehashed: bool = False,
    done_ids: frozenset[int] = frozenset(),
) -> DataFrame:
    """Phase 1: DataFrame of one partial row per input partition (per
    input partition that has rows when :func:`partial_stage` coalesces
    a cached input); partitions in ``done_ids`` are skipped unscanned.

    Projects to only the key/token columns first so the parquet scan
    stays pruned (check ``ReadSchema`` in .explain).  Hot cases
    (prehashed keys, token arrays, one numeric column) run on the
    Arrow-native path — flat buffers, no per-row materialization."""
    return _sketch_partials(df, factory, cols, token_col, prehashed, done_ids)[0]


def _sketch_partials(
    df: DataFrame,
    factory: Callable[[], Sketch],
    cols: list[str] | str | None,
    token_col: str | None,
    prehashed: bool,
    done_ids: frozenset[int] = frozenset(),
) -> tuple[DataFrame, int | None]:
    """:func:`sketch_partials` plus the input partition count of
    :func:`partial_stage`."""
    if isinstance(cols, str):
        cols = [cols]
    keep = list(cols) if cols else [token_col]
    dtypes = dict(df.dtypes)
    if getattr(factory(), "CONSUMES", "hashes") == "vectors":
        # matrix sketches: one list-typed column, Arrow-native always
        if not cols or len(cols) != 1:
            raise ValueError(
                "vector-consuming sketches need exactly one list column "
                f"in cols (got cols={cols!r}, token_col={token_col!r})"
            )
        if not dtypes.get(cols[0], "").lower().startswith("array<"):
            raise ValueError(
                f"vector-consuming sketches need an array<float> column; "
                f"{cols[0]!r} is {dtypes.get(cols[0])!r}"
            )
        build = make_partial_fn_arrow(factory, None, False)
        return partial_stage(df, keep, build, PARTIAL_SCHEMA, done_ids=done_ids)
    arrow_ok = (
        prehashed
        or token_col is not None
        or (
            cols is not None
            and len(cols) == 1
            and dtypes.get(cols[0], "").lower() in _ARROW_FAST
        )
    )
    if arrow_ok:
        build = make_partial_fn_arrow(factory, token_col, prehashed)
    else:
        build = make_partial_fn(factory, cols, token_col, prehashed)
    return partial_stage(
        df, keep, build, PARTIAL_SCHEMA, pandas=not arrow_ok, done_ids=done_ids
    )


def tree_merge(
    partials: DataFrame,
    fanin: int = 64,
    n_parts: int | None = None,
) -> tuple[Sketch, int, int, int]:
    """Phase 2. Returns (sketch, n_partitions, n_rows, rounds).

    The round count is planned from PARTITION METADATA, not a count()
    action — the whole merge tree plus the final collect executes as
    ONE Spark job, so the input is scanned exactly once and no persist
    of the partials is needed.  ``n_parts`` is the input partition
    count (see :func:`tree_merge_multi`; default: the partials' own
    partition count); ``n_partitions`` is at least a given ``n_parts``,
    and exact partial accounting rides in the ``n_partials`` column."""
    counted = n_parts or 0
    if n_parts is None:
        n_parts = partials.rdd.getNumPartitions()  # metadata, no job
    n_parts = max(1, n_parts)
    cur = partials
    rounds = 0
    while n_parts > fanin:
        ngroups = math.ceil(n_parts / fanin)
        cur = (
            cur.withColumn("g", F.pmod(F.col("partition_id"), F.lit(ngroups)))
            .groupBy("g")
            .applyInPandas(_merge_group_fn, schema=PARTIAL_SCHEMA)
        )
        # localCheckpoint would cut lineage on long chains; rounds are few
        n_parts = ngroups
        rounds += 1
    rows = sorted(cur.collect(), key=itemgetter("partition_id"))
    if not rows:
        raise ValueError("no partials produced (empty input with 0 partitions?)")
    acc: Sketch | None = None
    n_rows = 0
    orig_parts = 0
    for r in rows:
        s = Sketch.from_bytes(bytes(r["blob"]))
        acc = s if acc is None else acc.merge(s)
        n_rows += r["n_rows"]
        orig_parts += r["n_partials"]
    return acc, max(orig_parts, counted), n_rows, rounds


def build_sketch(
    df: DataFrame,
    factory: Callable[[], Sketch],
    cols: list[str] | str | None = None,
    token_col: str | None = None,
    prehashed: bool = False,
    fanin: int = 64,
    checkpoint_dir: str | None = None,
) -> BuildResult:
    """One-call build: partials → (checkpoint) → tree merge → Sketch.

    With ``checkpoint_dir``, partials are persisted per partition id and
    a killed job resumes by recomputing only missing ids (north rule:
    per-partition sketch lineage + checkpointed resumability).
    """
    done_ids: frozenset[int] = frozenset()
    spark = df.sparkSession
    stamp = True  # fresh dirs get stamped; see marker_present note below
    if checkpoint_dir and _checkpoint_exists(spark, checkpoint_dir):
        stamp, done_ids = _resume_ids(spark, checkpoint_dir)
    partials, n_in = _sketch_partials(
        df, factory, cols, token_col, prehashed, done_ids
    )
    if checkpoint_dir:
        if done_ids:
            partials.write.mode("append").parquet(checkpoint_dir)
        else:
            partials.write.mode("overwrite").parquet(checkpoint_dir)
        # see build_sketches: a zero-done-ids overwrite yields a pure
        # current-version dir — stamp it even if it was unmarked before
        if stamp or not done_ids:
            _write_checkpoint_hash_format(spark, checkpoint_dir)
        partials = spark.read.parquet(checkpoint_dir).dropDuplicates(["partition_id"])
    sketch, n_parts, n_rows, rounds = tree_merge(partials, fanin, n_in)
    return BuildResult(sketch=sketch, n_partitions=n_parts, n_rows=n_rows, merge_rounds=rounds)


#: marker file recording hashing.HASH_FORMAT inside a checkpoint dir
_HASH_FORMAT_MARKER = "_bj_hash_format"


def _local_marker_path(path: str) -> str | None:
    """Filesystem path of the marker for LOCAL checkpoint dirs
    (mirrors _checkpoint_exists's scheme handling); None for URIs."""
    if path.startswith("file:"):
        path = path[len("file:") :]
    if "://" in path:
        return None
    return os.path.join(path, _HASH_FORMAT_MARKER)


def _write_checkpoint_hash_format(spark: SparkSession, path: str) -> None:
    """Stamp the checkpoint dir with the hash-kernel version its
    partials were built under (idempotent overwrite).  Local paths use
    plain file IO (Hadoop's LocalFileSystem would add .crc side-files
    that break external edits); remote URIs go through Hadoop FS."""
    from .hashing import HASH_FORMAT

    payload = str(HASH_FORMAT).encode("ascii")
    try:
        local = _local_marker_path(path)
        if local is not None:
            with open(local, "wb") as f:
                f.write(payload)
            return
        jvm = spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(path, _HASH_FORMAT_MARKER)
        fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        out = fs.create(p, True)
        out.write(bytearray(payload))
        out.close()
    except Exception as ex:  # marker is best-effort; resume still warns
        warnings.warn(
            f"could not write hash-format marker to {path!r} ({ex!r}); a "
            "resume after a hash-kernel upgrade will not be detected",
            stacklevel=2,
        )


def _check_checkpoint_hash_format(spark: SparkSession, path: str) -> bool:
    """Guard a checkpoint RESUME against partials hashed under a
    different kernel version (ADVICE r3: the >16 KiB long-row kernel
    changed long-string hashes between v1 and v2 — mixing pre-upgrade
    partials with fresh partitions double-counts HLL rows and misses
    Bloom membership, and a docstring FORMAT NOTE alone does not detect
    it).  Version mismatch → ValueError (rebuild fresh, or finish the
    run with the old library version).  Marker missing → the checkpoint
    predates version stamping (= v1-era): loud warning, proceed — the
    divergence only affects >16 KiB string rows.

    Returns whether a (current-version) marker was present.  Callers
    must NOT stamp an unmarked dir after appending to it (ADVICE r4:
    stamping a resumed v1-era checkpoint makes the now-mixed v1+v2
    partials pass this guard silently on every later resume) — a dir
    that resumed unmarked stays unmarked so each resume keeps warning."""
    from .hashing import HASH_FORMAT

    recorded: int | None = None
    present = False
    try:
        local = _local_marker_path(path)
        if local is not None:
            present = os.path.exists(local)
        else:
            jvm = spark.sparkContext._jvm
            p = jvm.org.apache.hadoop.fs.Path(path, _HASH_FORMAT_MARKER)
            fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
            present = bool(fs.exists(p))
    except Exception:
        present = False  # existence genuinely unknowable → absence path
    if present:
        # an EXISTING marker that cannot be read or parsed must REFUSE
        # the resume, not downgrade to the absence warning — an
        # unreadable/corrupt version is exactly the unknown-version
        # case the guard exists for
        try:
            if local is not None:
                with open(local, "rb") as f:
                    raw_txt = f.read(16).decode("ascii")
            else:
                stream = fs.open(p)
                try:
                    buf = []
                    b = stream.read()  # py4j: one byte per call, -1 at EOF
                    while b != -1 and len(buf) < 16:
                        buf.append(b)
                        b = stream.read()
                finally:
                    stream.close()
                raw_txt = bytes(buf).decode("ascii")
            recorded = int(raw_txt.strip())
        except Exception as ex:
            raise ValueError(
                f"checkpoint {path!r} has a hash-format marker that cannot "
                f"be read/parsed ({ex!r}); refusing to resume — treat it as "
                "an unknown hash-kernel version and rebuild fresh (or fix "
                "the marker file)"
            ) from ex
    if recorded is None:
        warnings.warn(
            f"checkpoint {path!r} has no hash-format marker (written before "
            f"version stamping); current kernels are v{HASH_FORMAT}, which "
            "changed hashes of >16 KiB string rows vs v1 — if the keyed "
            "column can contain such rows, rebuild the sketch fresh instead "
            "of resuming",
            stacklevel=3,
        )
        return False
    if recorded != HASH_FORMAT:
        raise ValueError(
            f"checkpoint {path!r} was written under hash-format v{recorded} "
            f"but this build hashes v{HASH_FORMAT}; resuming would mix "
            "incompatible hashes in one sketch. Rebuild fresh (delete the "
            "checkpoint dir) or finish the run with the matching version."
        )
    return True


def _resume_ids(spark: SparkSession, path: str) -> tuple[bool, frozenset[int]]:
    """``(marker present, done partition ids)`` of an existing checkpoint
    dir, after the hash-format check.  Bloom partials of an older bit
    layout (``BloomSketch.LEGACY_KINDS``) cannot merge with fresh ones:
    such a dir resumes nothing, so every partition is rebuilt and the
    dir overwritten."""
    stamp = _check_checkpoint_hash_format(spark, path)
    rows = (
        spark.read.parquet(path)
        .select("partition_id", F.substring("blob", 5, 4).alias("kind"))
        .distinct()
        .collect()
    )
    stale = {bytes(r["kind"]) for r in rows} & set(BloomSketch.LEGACY_KINDS)
    if stale:
        warnings.warn(
            f"checkpoint {path!r} holds Bloom partials of an older bit layout "
            f"({', '.join(sorted(k.decode() for k in stale))}); rebuilding every "
            "partition instead of merging them",
            stacklevel=3,
        )
        return stamp, frozenset()
    return stamp, frozenset(r["partition_id"] for r in rows)


def _checkpoint_exists(spark: SparkSession, path: str) -> bool:
    if path.startswith("file:"):
        path = path[len("file:") :]
    if "://" not in path:
        return os.path.exists(path) and bool(os.listdir(path))
    try:
        spark.read.parquet(path).limit(1).collect()
        return True
    except Exception:
        return False
