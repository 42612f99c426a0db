"""Two-phase distributed sketch aggregation.

Phase 1 (executors): one sketch partial per input partition, built
inside ``mapInArrow`` — Arrow batches in, numpy hashing, zero per-row
Python. Each partial travels as one row
``([key,] partition_id, n_partials, n_rows, fingerprint, blob)``,
keyed by a group value or a sketch name where one pass builds many.
Every single, grouped and weighted builder, and both sketch streams,
read a batch through the one extraction, :func:`extract` (flatten a
token column, hash key columns by their Arrow type, reshape vectors),
and hand it to the one ingest rule, :func:`ingest`, which owns null
handling, the set / weighted / per-instance dispatch and the lineage
fingerprint; :class:`PartialRows` writes every partial row, its blob
in :func:`~.sketches.base.pack`'s frame, and folds them again in the
merge.

Every partial stage goes through :func:`partial_stage`, which narrows
a filled cache (``coalesce``, no shuffle) to ⌈plan bytes /
``_PY_TASK_BYTES``⌉ Python tasks, because every Python task pays a
fixed cost before any hashing (docs/PLANS.md §35), with the same
partials, fingerprints and blobs as one task per partition.  Any
other input (file scans, whose bytes are only estimated) runs one task
per input partition.

Token columns (``token_col``) are flattened zero-copy and collapsed by
one bincount per batch (:func:`_token_histogram`) into (distinct id,
count) pairs: hash sketches hash the distinct ids only, CMS adds the
counts, and t-digest ingests the histogram as weighted values. KLL
and TopK still take every token instance.

Phase 2 (:func:`tree_merge`, optionally per key): while more partials
remain than ``fanin``, group them ``pmod(partition_id, ngroups)`` and
OR/max/add-merge each group in ``applyInPandas``; final ≤fanin blobs
merge on the driver.  This is the
treeAggregate shape — at 100k input partitions the driver never holds
100k blobs (a 1 MiB Bloom partial × 100k = 100 GiB if collected flat).
A per-group result is the same fold, :func:`_merge_rows`, handed to a
*finisher* that writes the group's rows (:func:`_estimates`, :func:`_topk`).

Lineage / resume: partials can be checkpointed to parquet keyed by
partition id + content fingerprint; a re-run recomputes ONLY missing
partition ids (a resume runs one task per input partition, and tasks
for done partitions yield without consuming their input iterator, so
the columnar scan for them is never materialized).

Reference analog: ``rcpp_filter_keys`` builds one global filter in one
pass (the reference's ``src/BloomFilter.cpp:85-165``), and every key
reaches it through one canonicalise-and-hash pipeline shared by build
and probe (``src/hash_keys.cpp``); merge-order invariance of our
partials is what guarantees the same global sketch.
"""

from __future__ import annotations

import functools
import itertools
import math
import warnings
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from operator import itemgetter

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .hashing import (
    NULL_SENTINEL,
    combine_hashes,
    foreign_hash_format,
    hash_arrow,
    hash_float64,
    hash_format_mismatch,
    hash_numeric_array,
    stamp_hash_format,
)
from .plans.sizing import size
from .sketches.base import Sketch, pack
from .sketches.bloom import BloomSketch

PARTIAL_SCHEMA = (
    "partition_id long, n_partials long, n_rows long, fingerprint long, blob binary"
)
#: the partial payload every merge folds
_PARTIAL_COLS = [c.split(" ")[0] for c in PARTIAL_SCHEMA.split(", ")]
#: :func:`_per_group`'s flag of a NaN floating group key
_NAN_KEY = "__nan_key"

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


#: plan bytes one partial-building Python task covers, applied to
#: cached inputs only, the one traffic it was measured on. Chosen when
#: a task cost ~0.25 CPU-s before any hashing and the token lanes ~0.19
#: CPU-s per plan-MB (extrapolated from 4-15 MB inputs, docs/PLANS.md
#: §33). That premise no longer holds: with ``_worker`` a one-task no-op
#: ``mapInArrow`` costs ~0.1 CPU-s, near a JVM count, and the token
#: lanes' per-MB cost fell with the t-digest histogram (§35). Kept until
#: it is re-derived from the verify skill's fixed-cost step.
_PY_TASK_BYTES = 64 << 20


def _input_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df``'s physical plan, read without a job;
    None for an adaptive plan, whose count only running it would tell."""
    try:
        if df._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan":
            return None
        return df.rdd.getNumPartitions()
    except Exception:
        return None


def _concat(parts: list):
    if len(parts) == 1:
        return parts[0]
    import pyarrow as pa

    return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]


def _pid_runs(it, batch_rows: int):
    """``(pid, chunk)`` pairs of a ``__pid``-led Arrow batch stream;
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
        pids = chunk.column(0).to_numpy()
        data = chunk.drop_columns(["__pid"])
        cuts = np.flatnonzero(pids[1:] != pids[:-1]) + 1
        for lo, hi in zip([0, *cuts], [*cuts, len(pids)]):
            if pids[lo] != cur:
                if pend:
                    yield cur, _concat(pend)
                cur, pend, n_pend = int(pids[lo]), [], 0
            pend.append(data.slice(lo, hi - lo))
            n_pend += hi - lo
            while 0 < batch_rows <= n_pend:
                whole = _concat(pend)
                yield cur, whole.slice(0, batch_rows)
                n_pend -= batch_rows
                pend = [whole.slice(batch_rows)] if n_pend else []
            if len(pend) > 1:
                yield cur, _concat(pend)
                pend, n_pend = [], 0
    if pend:
        yield cur, _concat(pend)


def _uncounted(out):
    """``out`` with ``n_partials`` 0: a marker, not an input partition."""
    import pyarrow as pa

    i = out.schema.get_field_index("n_partials")
    return out.set_column(i, "n_partials", pa.array([0] * out.num_rows, pa.int64()))


def _per_partition(build, batch_rows: int, done_ids: frozenset[int], coalesced: bool):
    """The ``mapInArrow`` function around ``build(pid, chunks)``.

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
        runs = _pid_runs(it, batch_rows)
        for pid, run in itertools.groupby(runs, key=itemgetter(0)):
            seen = True
            yield from build(pid, (chunk for _, chunk in run))
        if not seen:
            for out in build(-1 - task, iter(())):
                yield _uncounted(out)

    return fn


def partial_stage(
    df: DataFrame,
    keep: list[str],
    build: Callable,
    schema: str,
    done_ids: frozenset[int] = frozenset(),
) -> tuple[DataFrame, int | None]:
    """The one Python stage every sketch-partial build goes through;
    ``build(pid, chunks)`` yields one input partition's partial rows.

    A cached input of ``P`` partitions (every leaf a filled cache:
    ``plans.size``'s ``cached``; and no ``done_ids``) is narrowed
    (``coalesce``: no shuffle, no extra job) to ``min(P, ⌈plan bytes /
    _PY_TASK_BYTES⌉)`` Python tasks, with the input
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
        sz = size(staged)
        if sz.cached and sz.bytes is not None:
            n_tasks = min(n_in, max(1, -(-sz.bytes // _PY_TASK_BYTES)))
    coalesced = n_tasks is not None and n_tasks < n_in
    if coalesced:
        staged = df.select(F.spark_partition_id().alias("__pid"), *keep)
        staged = staged.coalesce(n_tasks)
    batch_rows = int(
        df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    fn = _per_partition(build, batch_rows, done_ids, coalesced)
    return staged.mapInArrow(fn, schema=schema), n_in


@dataclass
class BuildResult:
    sketch: Sketch
    n_partitions: int
    n_rows: int
    merge_rounds: int


def _wsum(x: np.ndarray, counts: np.ndarray | None = None) -> np.uint64:
    """Wrapping uint64 sum of ``x`` (uint64 bits), each element taken
    ``counts`` times: the lineage fingerprint of one batch."""
    with np.errstate(over="ignore"):
        if counts is None:
            return x.sum(dtype=np.uint64)
        return (x * counts.astype(np.int64).view(np.uint64)).sum(dtype=np.uint64)


def ingest(
    sk: Sketch,
    x: np.ndarray,
    counts: np.ndarray | None = None,
    *,
    had_nulls: bool = False,
    null_marks: bool = True,
) -> np.uint64:
    """Feed ``sk`` one batch; return the batch's lineage fingerprint.
    Every partial builder and stream reaches a sketch only through here.

    ``x`` is what ``sk.CONSUMES``: canonical uint64 hashes, float64
    values, or an ``(n, dim)`` float64 matrix; ``counts`` is each
    element's multiplicity (a token histogram or a weight column).

    Nulls: ``had_nulls`` records rows the extraction already dropped.
    With ``null_marks`` a ``NULL_SENTINEL`` hash, a NaN value and a
    null count are nulls too: dropped, and recorded with ``add_null``.
    Prehashed keys pass ``null_marks=False`` (every hash is a key).

    Dispatch: a set sketch (``SET_SEMANTICS``) takes the distinct
    hashes; a weighted one (``SUPPORTS_WEIGHTS``) the hashes or values
    with their counts; any other hash sketch every instance (a
    histogram is ``np.repeat``-ed); other counted values go to
    ``update_weighted`` (TopK).

    Fingerprint: the wrapping sum of the per-instance bits, for hashes
    before their null marks are dropped (a null hashes to a value), for
    values and matrices after."""
    consumes = getattr(sk, "CONSUMES", "hashes")
    if consumes == "hashes":
        fp = _wsum(x, counts)
        null = x == NULL_SENTINEL if null_marks else None
    elif consumes == "values" and null_marks:
        null = np.isnan(x)
        if counts is not None and counts.dtype.kind not in "iu":
            null |= pd.isna(counts)
    else:
        null = None
    if null is not None and null.any():
        had_nulls = True
        x = x[~null]
        counts = None if counts is None else counts[~null]
    if had_nulls and hasattr(sk, "add_null"):
        sk.add_null()
    if consumes == "hashes":
        if getattr(sk, "SET_SEMANTICS", False):
            sk.update_hashes(np.unique(x) if counts is None else x)
        elif getattr(sk, "SUPPORTS_WEIGHTS", False):
            if counts is None:  # one sort replaces an unbuffered scatter
                x, counts = np.unique(x, return_counts=True)
            sk.update_hashes(x, weights=counts)
        else:
            sk.update_hashes(x if counts is None else np.repeat(x, counts))
        return fp
    fp = _wsum(x.reshape(-1).view(np.uint64), counts)
    if consumes == "vectors":
        sk.update_matrix(x)
    elif counts is None:
        sk.update_values(x)
    elif getattr(sk, "SUPPORTS_WEIGHTS", False):
        sk.update_values(x, weights=counts)
    else:
        sk.update_weighted(x, counts)
    return fp


class _Tokens:
    """One batch of flat token ids.  Its histogram and its hashes are
    computed at most once, however many sketches read them."""

    def __init__(self, arr: np.ndarray):
        self.arr = arr

    @functools.cached_property
    def hist(self):
        return _token_histogram(self.arr)

    @functools.cached_property
    def hashes(self) -> tuple[np.ndarray, np.ndarray | None]:
        """``(hashes, counts)``: of the histogram's distinct ids, else of
        every instance (``counts`` None)."""
        if self.hist is None:
            return hash_numeric_array(self.arr), None
        return hash_float64(self.hist[0]), self.hist[1]

    def input(self, sk: Sketch) -> tuple[np.ndarray, np.ndarray | None]:
        """``(x, counts)`` for :func:`ingest`: hash sketches take the
        hashes, a weighted value sketch (t-digest) the histogram, and
        KLL and TopK every value."""
        if getattr(sk, "CONSUMES", "hashes") != "values":
            return self.hashes
        if getattr(sk, "SUPPORTS_WEIGHTS", False) and self.hist is not None:
            return self.hist
        return self.arr.astype(np.float64, copy=False), None


class PartialRows:
    """The one writer of partial rows ``([key,] partition_id,
    n_partials, n_rows, fingerprint, blob)``: per key (a group value, a
    sketch name, or None for an ungrouped sketch) a sketch, its partial
    count, its row count and its fingerprint.  Builders make sketches
    with ``make(key)`` and count batches with :meth:`add`; merges fold
    whole partial rows in with :meth:`merge`."""

    def __init__(self, make: Callable[[object], Sketch] | None = None, keys=()):
        self._make = make
        self.sketches: dict = {}
        self.n_partials: dict = {}
        self.n_rows: dict = {}
        self.fingerprint: dict = {}
        for key in keys:
            self[key]

    def _new(self, key, sk: Sketch, n_partials: int) -> None:
        self.sketches[key] = sk
        self.n_partials[key], self.n_rows[key] = n_partials, 0
        self.fingerprint[key] = np.uint64(0)

    def __getitem__(self, key) -> Sketch:
        """``key``'s sketch, made (as one partial) on first use."""
        if key not in self.sketches:
            self._new(key, self._make(key), 1)
        return self.sketches[key]

    def add(self, key, n_rows: int, fp: np.uint64 = np.uint64(0)) -> None:
        self.n_rows[key] += int(n_rows)
        with np.errstate(over="ignore"):
            self.fingerprint[key] += fp

    def merge(self, key, row) -> None:
        """Fold one partial row (a ``Row`` or a dict) into ``key``'s."""
        sk = Sketch.from_bytes(bytes(row["blob"]))
        if key in self.sketches:
            self.sketches[key] = self.sketches[key].merge(sk)
        else:
            self._new(key, sk, 0)
        self.n_partials[key] += int(row["n_partials"])
        self.add(key, row["n_rows"], np.int64(row["fingerprint"]).astype(np.uint64))

    def rows(self, pid: int, key_col: str | None = None, key_type=None, pandas=False):
        """Yield every key's row under ``partition_id`` ``pid``, as one
        pandas frame or one Arrow batch (``key_col`` of ``key_type``);
        nothing when no key was seen."""
        keys = list(self.sketches)
        if not keys:
            return
        cols = {
            "partition_id": [pid] * len(keys),
            "n_partials": [self.n_partials[k] for k in keys],
            "n_rows": [self.n_rows[k] for k in keys],
            "fingerprint": [int(self.fingerprint[k].astype(np.int64)) for k in keys],
            "blob": [pack(self.sketches[k]) for k in keys],
        }
        if pandas:
            kcol = {key_col: pd.Series(keys)} if key_col else {}
            yield pd.DataFrame({**kcol, **cols})
            return
        import pyarrow as pa

        out = {c: pa.array(v, pa.binary() if c == "blob" else pa.int64()) for c, v in cols.items()}
        if key_col:
            out = {key_col: pa.array(keys, type=key_type), **out}
        yield pa.RecordBatch.from_pydict(out)


def extract_batch(
    batch,
    sk: Sketch,
    cols: list[str] | None = None,
    token_col: str | None = None,
    weight_col: str | None = None,
    prehashed: bool = False,
    rows: bool = False,
) -> tuple:
    """``(n, x, counts, had_nulls)`` of one Arrow batch for :func:`ingest`:
    the one extraction every partial builder and both sketch streams
    call, so a key hashes by one rule whichever lane reads it.

    ``x`` is what ``sk.CONSUMES``: the row hashes of the ``cols`` key
    (:func:`hashing.hash_arrow`, by each column's Arrow type),
    prehashed int64 bits, the hashes of ``token_col``'s flat ids,
    float64 values (of ``cols[0]``, or the tokens), or a vector column's
    ``(rows, dim)`` matrix.  ``counts`` is the ``weight_col`` or a token
    histogram's counts.  ``n`` is the rows the batch counts, which a
    null vector does not; ``had_nulls`` marks null rows already dropped.

    Without ``rows``, a single column's nulls are dropped before it is
    read and tokens collapse to their histogram (:class:`_Tokens`).
    With ``rows`` (a grouped builder slicing ``x`` by group, or a
    stream) ``x`` keeps one element per row, per token or per non-null
    vector, nulls staying in as marks; ``n`` is then each row's element
    count, None when every row has exactly one."""
    import pyarrow as pa
    import pyarrow.compute as pc

    consumes = getattr(sk, "CONSUMES", "hashes")
    if token_col is not None:
        col = batch.column(token_col)
        flat = col.flatten().to_numpy(zero_copy_only=False)
        if prehashed:
            return batch.num_rows, flat.astype(np.int64, copy=False).view(np.uint64), None, False
        if not rows:
            return batch.num_rows, *_Tokens(flat).input(sk), False
        lens = pc.list_value_length(col).fill_null(0).to_numpy(zero_copy_only=False)
        x = flat.astype(np.float64, copy=False) if consumes == "values" else hash_numeric_array(flat)
        return lens, x, None, False
    keys = [batch.column(c) for c in cols]
    col, n, counts = keys[0], None if rows else batch.num_rows, None
    had_nulls = (len(keys) == 1 and weight_col is None and col.null_count > 0
                 and (not rows or consumes == "vectors"))
    if had_nulls:
        if rows:  # a null vector is a row of no element
            n = col.is_valid().to_numpy(zero_copy_only=False).astype(np.int64)
        col = keys[0] = col.drop_null()
    if consumes == "vectors":
        lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
        if (lens != sk.dim).any():
            raise ValueError(
                f"vector column rows must all have length {sk.dim} "
                f"(found a row of length {int(lens[lens != sk.dim][0])})"
            )
        x = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        x = x.reshape(-1, sk.dim)
        return (n if rows else len(x)), x, None, had_nulls
    if weight_col is not None or consumes == "values":
        if pa.types.is_string(col.type) or pa.types.is_binary(col.type):
            raise TypeError("value-consuming sketches need a numeric column, "
                            f"got {col.type} for {type(sk).__name__}")
        x = col.to_pandas().to_numpy(dtype=np.float64, na_value=np.nan)
        if weight_col is not None:
            counts = batch.column(weight_col).to_numpy(zero_copy_only=False)
    elif prehashed:  # int64 already hashed JVM-side (xxhash64)
        x = col.to_numpy(zero_copy_only=False).astype(np.int64, copy=False).view(np.uint64)
    else:
        x = hash_arrow(col) if len(keys) == 1 else combine_hashes([hash_arrow(c) for c in keys])
    return n, x, counts, had_nulls


def make_partial_fn_arrow(
    factory: Callable[[], Sketch],
    cols: list[str] | None = None,
    token_col: str | None = None,
    prehashed: bool = False,
):
    """Partial builder ``(pid, batches)`` for :func:`partial_stage`: ONE
    pass over each partition producing one partial row, every batch
    read by :func:`extract_batch`.  An Arrow list column is ONE flat
    values buffer + offsets — flattening it is zero-copy, versus a
    numpy object per ROW (measured 85-94% kernel time from allocator
    churn at 32 concurrent workers)."""

    def partial_fn(pid, it):
        acc = PartialRows(lambda _: factory(), (None,))
        sk = acc[None]
        for batch in it:
            if batch.num_rows == 0:
                continue
            n, x, counts, had_nulls = extract_batch(batch, sk, cols, token_col, None, prehashed)
            acc.add(None, n, ingest(sk, x, counts, had_nulls=had_nulls, null_marks=not prehashed))
        yield from acc.rows(pid)

    return partial_fn


def make_grouped_partial_fn_arrow(
    factory: Callable[[], Sketch],
    group_col: str,
    cols: list[str] | None = None,
    token_col: str | None = None,
    weight_col: str | None = None,
):
    """Grouped partial builder ``(pid, batches)`` for :func:`partial_stage`:
    one partial row per (group key, partition) in ONE pass.  The batch
    stays columnar: group codes come from one ``dictionary_encode``,
    :func:`extract_batch` reads the whole batch once (``rows``: one
    element per row, token or vector), elements sort once by code
    (stable — within-group order is preserved), and each group ingests
    a SLICE of ``x`` and ``counts`` — never a numpy object per row nor
    one hash call per group.  Null group keys form their own group."""
    import pyarrow as pa
    import pyarrow.compute as pc

    proto = factory()

    def fn(pid, it):
        acc = PartialRows(lambda _: factory())
        gtype = None
        for batch in it:
            if batch.num_rows == 0:
                continue
            gcol = batch.column(group_col)
            gtype = gcol.type
            if pa.types.is_timestamp(gtype):  # a zoned datetime would not round-trip
                gcol = gcol.cast(pa.int64())
            denc = pc.dictionary_encode(gcol)
            keys = denc.dictionary.to_pylist()
            codes = pc.fill_null(
                pc.cast(denc.indices, pa.int64()), len(keys)
            ).to_numpy(zero_copy_only=False)
            if gcol.null_count:
                keys.append(None)
            per_row, x, counts, _ = extract_batch(
                batch, proto, cols, token_col, weight_col, rows=True
            )
            elems = codes if per_row is None else np.repeat(codes, per_row)
            order = np.argsort(elems, kind="stable")
            bounds = np.searchsorted(elems[order], np.arange(len(keys) + 1))
            # every row counts but a null vector's
            counted = np.bincount(codes if token_col else elems, minlength=len(keys))
            for ci, n in enumerate(np.bincount(codes, minlength=len(keys))):
                if n:
                    sl = order[bounds[ci]:bounds[ci + 1]]
                    fp = ingest(acc[keys[ci]], x[sl], None if counts is None else counts[sl],
                                had_nulls=counted[ci] < n)
                    acc.add(keys[ci], counted[ci], fp)
        yield from acc.rows(pid, group_col, gtype)

    return fn


def _item_cols(cols, token_col=None, weight_col=None) -> list[str] | None:
    """``cols`` as a list; a weighted lane reads its items from exactly
    one ``cols`` column, never from ``token_col``."""
    if isinstance(cols, str):
        cols = [cols]
    if weight_col is not None and (not cols or len(cols) != 1 or token_col is not None):
        raise ValueError(
            "weight_col needs exactly one item column in cols "
            f"(got cols={cols!r}, token_col={token_col!r})"
        )
    return cols


def grouped_sketch_partials(
    df: DataFrame,
    factory: Callable[[], Sketch],
    group_col: str,
    cols: list[str] | str | None = None,
    token_col: str | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """One partial row per (group key, input partition) in a single
    scan (:func:`make_grouped_partial_fn_arrow`). Output schema:
    (group_col, partition_id, n_partials, n_rows, fingerprint, blob)."""
    cols = _item_cols(cols, token_col, weight_col)
    keep = [group_col] + (list(cols) if cols else [token_col])
    if weight_col is not None:
        keep.append(weight_col)
    schema = f"`{group_col}` {dict(df.dtypes)[group_col]}, {PARTIAL_SCHEMA}"
    build = make_grouped_partial_fn_arrow(factory, group_col, cols, token_col, weight_col)
    return partial_stage(df, keep, build, schema)[0]


def _estimates(group_col: str, extract=None):
    """``(finish, cols)`` of one group's row ``(group_col, estimate,
    n_rows)``: ``extract(sketch)``, else ``estimate()``, else
    ``total``, else null (Bloom, KLL, t-digest, FD)."""

    def finish(key, sk: Sketch, n_rows: int) -> pd.DataFrame:
        if extract is not None:
            est = extract(sk)
        elif hasattr(sk, "estimate"):
            est = sk.estimate()
        else:
            est = getattr(sk, "total", None)
        return pd.DataFrame({
            group_col: [key],
            "estimate": [None if est is None else float(est)],
            "n_rows": [int(n_rows)],
        })

    return finish, "estimate double, n_rows long"


def _topk(where: str, group_col: str, k: int, capacity: int | None):
    """``(factory, finish, cols)`` of a per-group top-``k``: sketches of
    ``capacity`` slots (default ``max(64, 8·k)``, at least ``k``) and
    one group's rows ``(group_col, item, count_est, error, rank)``,
    count-descending with the sketch's tie-break, ``rank`` 1-based."""
    from .sketches.topk import TopKSketch

    if k < 1:
        raise ValueError(f"{where}: k must be >= 1, got {k}")
    cap = capacity if capacity is not None else max(64, 8 * k)
    if cap < k:
        raise ValueError(
            f"{where}: capacity {cap} < k {k} — the sketch cannot "
            "report more items than it monitors"
        )

    def finish(key, sk: Sketch, n_rows: int = 0) -> pd.DataFrame:
        rows = sk.topk()[:k]
        m = len(rows)
        return pd.DataFrame({
            group_col: pd.Series([key] * m),
            "item": pd.Series([r[0] for r in rows], dtype="int64"),
            "count_est": pd.Series([r[1] for r in rows], dtype="int64"),
            "error": pd.Series([r[2] for r in rows], dtype="int64"),
            "rank": pd.Series(range(1, m + 1), dtype="int32"),
        })

    return (lambda: TopKSketch(cap)), finish, "item long, count_est long, error long, rank int"


def _per_group(partials: DataFrame, group_col: str, finish=None, cols=PARTIAL_SCHEMA):
    """Each group's partial rows folded by :func:`_merge_rows` into one
    partial row, or into ``finish``'s rows, typed ``group_col, cols``.
    pandas reads a NaN key as null, so a floating key's NaN-ness rides
    the ``_NAN_KEY`` flag through the fold and is put back after it."""
    gtype = dict(partials.dtypes)[group_col]
    schema = f"`{group_col}` {gtype}, {cols}"
    if gtype not in ("float", "double"):
        return partials.groupBy(group_col).applyInPandas(_merge_rows(group_col, finish), schema)
    g = F.col(f"`{group_col}`")
    out = partials.withColumn(_NAN_KEY, F.isnan(g)).groupBy(group_col).applyInPandas(
        _merge_rows(group_col, finish), f"{schema}, {_NAN_KEY} boolean")
    nan = F.lit(float("nan")).cast(gtype)
    return out.withColumn(group_col, F.when(F.col(_NAN_KEY), nan).otherwise(g)).drop(_NAN_KEY)


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
    blobs groups each key's partials; the tree merge's fold per group
    emits (group, estimate, n_rows), as ``store_estimates`` does over
    stored partials.  Per-group sketches are never collected to the
    driver — at 100 TB the group cardinality (e.g. per-source or
    per-domain distinct counts) can be millions, and this keeps the
    driver's footprint at zero while the shuffle carries KB-scale blobs
    instead of raw rows.

    ``extract`` maps the merged group sketch to the emitted value —
    default ``.estimate()``, else ``.total``, else null; pass e.g.
    ``lambda s: s.quantile(0.5)`` for per-group medians from a
    t-digest/KLL factory."""
    partials = grouped_sketch_partials(df, factory, group_col, cols, token_col)
    return _per_group(partials, group_col, *_estimates(group_col, extract))


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
    KB-scale blobs, an ``applyInPandas`` fold per group emitting that
    group's top-``k`` as rows ``(group_col, item, count_est, error,
    rank)`` (:func:`_topk`, shared with ``topk_stream``) —
    count-descending with the sketch's deterministic tie-break (smaller
    item first), ``rank`` 1-based, true count ∈ [count_est − error,
    count_est] per row.

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
    factory, finish, out_cols = _topk("grouped_topk", group_col, k, capacity)
    partials = grouped_sketch_partials(df, factory, group_col, cols, token_col, weight_col)
    return _per_group(partials, group_col, finish, out_cols)


MULTI_PARTIAL_SCHEMA = f"name string, {PARTIAL_SCHEMA}"


def make_multi_partial_fn_arrow(
    factories: dict[str, Callable[[], Sketch]],
    token_col: str,
):
    """One pass, MANY sketches (mapInArrow): the token column is
    flattened once, bincount-preaggregated once, and every sketch
    updates from the shared arrays.  At scale this is the difference
    between K scans of the table and one — the scan (not the sketch
    math) dominates a 100 TB build.  Every sketch's row carries the
    fingerprint of the token hashes, whatever the sketch consumes."""

    def partial_fn(pid, it):
        acc = PartialRows(lambda name: factories[name](), factories)
        for batch in it:
            if batch.num_rows == 0:
                continue
            tokens = _Tokens(batch.column(0).flatten().to_numpy(zero_copy_only=False))
            fp = _wsum(*tokens.hashes)
            for name, sk in acc.sketches.items():
                ingest(sk, *tokens.input(sk))
                acc.add(name, batch.num_rows, fp)
        yield from acc.rows(pid, "name")

    return partial_fn


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
    stays pruned (check ``ReadSchema`` in .explain); every batch is
    read from flat Arrow buffers (:func:`make_partial_fn_arrow`)."""
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
    cols = _item_cols(cols)
    keep = list(cols) if cols else [token_col]
    dtypes = dict(df.dtypes)
    if getattr(factory(), "CONSUMES", "hashes") == "vectors":
        # matrix sketches: one list-typed column
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
    build = make_partial_fn_arrow(factory, cols, token_col, prehashed)
    return partial_stage(df, keep, build, PARTIAL_SCHEMA, done_ids=done_ids)


def _merge_rows(key: str | None, finish: Callable | None = None):
    """applyInPandas function folding one group's partial rows, in the
    order they arrive, through :meth:`PartialRows.merge` (every merge of
    partial rows is this fold) into one row under the group's smallest
    ``partition_id``, or into ``finish(key, sketch, n_rows)``'s rows."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = PartialRows()
        k = None if key is None else pdf[key].iloc[0]
        for row in pdf.to_dict("records"):
            acc.merge(k, row)
        if finish is not None:
            out = finish(k, acc.sketches[k], acc.n_rows[k])
        else:
            out = next(acc.rows(int(pdf["partition_id"].min()), key, pandas=True))
        if _NAN_KEY in pdf:
            out[_NAN_KEY] = bool(pdf[_NAN_KEY].iloc[0])
        return out

    return fn


def tree_merge(
    partials: DataFrame,
    fanin: int = 64,
    n_parts: int | None = None,
    key: str | None = None,
) -> tuple[dict, int]:
    """Phase 2: merge partial rows into one :class:`BuildResult` per
    value of the ``key`` column (``build_sketches``: one per sketch name;
    ``profile_table``: one per column and sketch), or into one under
    ``None`` without a key.  Returns ``(results, rounds)``.

    While more than ``fanin`` partials remain per key, a round groups
    them by key and ``pmod(partition_id, ngroups)`` and merges each
    group in ``applyInPandas``; the survivors merge on the driver in
    ``partition_id`` order, so the driver never holds more than ~fanin
    blobs per key.  The rounds are planned from PARTITION METADATA, not
    a count() action — the whole merge tree plus the final collect
    executes as ONE Spark job, so the input is scanned exactly once and
    no persist of the partials is needed.

    ``n_parts`` is the number of input partitions (≥ the DISTINCT
    ``partition_id`` values, = partials per key plus the empty
    partitions that left none).  Callers whose partials come straight
    from a one-task-per-partition scan may omit it (the RDD partition
    count IS that number); callers of :func:`partial_stage`, whose
    tasks are coalesced, and callers reading partials back from storage
    (checkpoint restore) MUST pass it — there the RDD partition count
    reflects the task or parquet layout, not the partial count, and
    under-counting would funnel thousands of blobs into one merge task.
    Each result's ``n_partitions`` is at least a given ``n_parts``.

    Without a key, no partials at all raise ``ValueError``; with a key
    they give no results."""
    counted = n_parts or 0
    if n_parts is None:
        n_parts = partials.rdd.getNumPartitions()  # metadata, no job
    n_parts = max(1, n_parts)
    keys = [key] if key else []
    schema = PARTIAL_SCHEMA
    if key:
        schema = f"`{key}` {dict(partials.dtypes)[key]}, {PARTIAL_SCHEMA}"
    cur = partials
    rounds = 0
    while n_parts > fanin:
        ngroups = math.ceil(n_parts / fanin)
        cur = (
            cur.withColumn("g", F.pmod(F.col("partition_id"), F.lit(ngroups)))
            .groupBy(*keys, "g")
            .applyInPandas(_merge_rows(key), schema=schema)
        )
        n_parts = ngroups
        rounds += 1
    acc = PartialRows()
    for r in sorted(cur.collect(), key=itemgetter("partition_id")):
        acc.merge(r[key] if key else None, r)
    if not key and not acc.sketches:
        raise ValueError("no partials produced (empty input with 0 partitions?)")
    out = {
        k: BuildResult(sk, max(acc.n_partials[k], counted), acc.n_rows[k], rounds)
        for k, sk in acc.sketches.items()
    }
    return out, rounds


def _checkpointed(
    df: DataFrame, checkpoint_dir: str | None, key: str | None, stage: Callable
) -> tuple[DataFrame, int | None]:
    """``stage(done_ids) -> (partials, n_parts)`` through an optional
    checkpoint dir (north rule: per-partition sketch lineage +
    checkpointed resumability); returns the partials to merge and their
    input partition count.

    A resume skips the dir's done partition ids (:func:`_resume_ids`)
    and appends the rest; a fresh build, or a dir that cannot resume,
    overwrites it.  Every partial is written with the hash-format stamp.
    The partials are then re-read from the dir, one per (``key``,
    partition id).  Their parquet layout says nothing about how many
    partitions they cover, so ``n_parts`` counts the distinct real ids
    (a cheap distinct over KB-scale lineage rows; a negative id is an
    empty task's marker): an adaptive input's merge keeps the fan-in
    bound of a build without checkpoint."""
    if not checkpoint_dir:
        return stage(frozenset())
    spark = df.sparkSession
    done_ids = _resume_ids(spark, checkpoint_dir)
    partials, n_parts = stage(done_ids)
    mode = "append" if done_ids else "overwrite"
    stamp_hash_format(partials).write.mode(mode).parquet(checkpoint_dir)
    keys = [key] if key else []
    partials = (
        spark.read.parquet(checkpoint_dir)
        .select(*keys, *_PARTIAL_COLS)
        .dropDuplicates([*keys, "partition_id"])
    )
    real = partials.where(F.col("partition_id") >= 0).select("partition_id").distinct()
    return partials, max(n_parts or 0, real.count())


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
    a killed job resumes by recomputing only missing ids."""
    partials, n_parts = _checkpointed(
        df, checkpoint_dir, None,
        lambda done: _sketch_partials(df, factory, cols, token_col, prehashed, done),
    )
    return tree_merge(partials, fanin, n_parts)[0][None]


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
    build = make_multi_partial_fn_arrow(factories, token_col)
    partials, n_parts = _checkpointed(
        df, checkpoint_dir, "name",
        lambda done: partial_stage(
            df, [token_col], build, MULTI_PARTIAL_SCHEMA, done_ids=done
        ),
    )
    out, rounds = tree_merge(partials, fanin, n_parts, key="name")
    # an input that produced no partial rows still yields every requested
    # sketch (empty), never a missing key
    for name, f in factories.items():
        if name not in out:
            out[name] = BuildResult(sketch=f(), n_partitions=0, n_rows=0,
                                    merge_rounds=rounds)
    return out


def _resume_ids(spark: SparkSession, path: str) -> frozenset[int]:
    """Done partition ids of the checkpoint dir ``path``, none for a dir
    without partials.  Partials of another hash format or without a
    stamp (``hashing.foreign_hash_format``), and Bloom partials of an
    older bit layout (``BloomSketch.LEGACY_KINDS``), cannot merge with
    fresh ones: such a dir resumes nothing, so every partition is
    rebuilt and the dir overwritten."""
    try:
        read = spark.read.parquet(path)
    except AnalysisException:  # no dir, or no partials in it: a fresh build
        return frozenset()
    kind, fmt = F.substring("blob", 5, 4), foreign_hash_format(read)  # the kind tag, in either frame
    rows = read.select("partition_id", kind.alias("kind"), fmt.alias("fmt")).distinct().collect()
    stale = sorted({bytes(r["kind"]) for r in rows} & set(BloomSketch.LEGACY_KINDS))
    why = hash_format_mismatch(f"checkpoint {path!r}", (r["fmt"] for r in rows))
    if stale:
        why = (f"checkpoint {path!r} holds Bloom partials of an older bit layout "
               f"({', '.join(k.decode() for k in stale)})")
    if why:
        warnings.warn(f"{why}; rebuilding every partition instead of merging them", stacklevel=3)
        return frozenset()
    return frozenset(r["partition_id"] for r in rows)
