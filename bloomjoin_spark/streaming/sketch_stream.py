"""Structured Streaming surface: windowed exact aggregates and
streaming sketch collection.

Two layers:

- ``windowed_counts``: ordinary watermark + tumbling-window aggregation
  (pure built-ins) — the exact-answer streaming baseline.
- ``StreamingSketchCollector``: ``foreachBatch`` + the same two-phase
  partial/merge harness used for batch. Each micro-batch contributes
  per-partition partials; the collector merges them into one running
  sketch per group key. Because every sketch is an associative,
  commutative merge, batch boundaries and retries cannot change the
  final estimate — the streaming answer equals the batch answer on the
  same rows. Lineage (batch_id, n_rows, blob) is retained for resume
  parity with the batch checkpoint store.
"""

from __future__ import annotations

import re
import warnings
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def _single_file_glob(sf_dir: str, table: str) -> str:
    """Path that streams ONE parquet file out of a shared directory.

    The file stream source insists its basePath is a directory, so a
    bare file path is rejected — but a path containing a glob character
    resolves basePath to the parent dir while listing only the matching
    file.  Wrapping the last character in a one-element character class
    (``events.parque[t]``) is exactly that, with no temp dir, symlink,
    or copy (ADVICE r4: the previous mkdtemp+symlink helper leaked a
    /tmp dir per call and broke on symlink-less filesystems).

    The whole path goes through Hadoop's glob matcher, so any glob
    metacharacter already IN ``sf_dir`` (``/data/run[2]/sf1``) must be
    backslash-escaped or the directory part silently matches the wrong
    (or no) path — only our trailing ``[t]`` may stay live."""
    escaped = _GLOB_META.sub(r"\\\g<0>", sf_dir)
    return f"{escaped}/{table}.parque[t]"


#: Hadoop glob metacharacters (GlobPattern): * ? [ ] { } and the escape
#: char itself
_GLOB_META = re.compile(r"[*?\[\]{}\\]")


def events_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1):
    """File-source stream over the events table (for tests/demos; a
    production job swaps in kafka with the same downstream graph)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(_single_file_glob(sf_dir, "events"))
    )


def windowed_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 day",
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window exact counts + value sums per group."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col(group_col),
            "n",
            "value_sum",
        )
    )


def session_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 day",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming gap-based sessionization via the engine's native
    session-window state store (``F.session_window``): sessions merge
    as micro-batches arrive, the watermark bounds state, and a session
    closes (its state is evictable) once the watermark passes its end.

    Boundary semantics are IDENTICAL to the batch ``sessionize``
    (``operators/temporal.py``): an event at exactly ``prev + gap``
    still merges; a strictly greater gap opens a new session — so a
    bounded stream's output row-equals the batch operator's
    ``session_stats`` on (key, session_start, n_events, last_ts), and
    batch boundaries do not change the result (the state store merges
    adjacent windows across batches) unless a row arrives behind the
    ``watermark``: a late row is dropped, so the result then depends
    on the order in which rows arrive.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(key_col, "session_start", "session_end", "n_events")
    )


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a bounded file stream to completion synchronously; returns
    the in-memory table name."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return name


def bloom_join_stream(
    stream: DataFrame,
    static: DataFrame,
    on,
    how: str = "inner",
    fpp: float = 0.01,
    n_hint: int | None = None,
) -> DataFrame:
    """Bloom-prefiltered STREAM-static join: the filter is built ONCE
    from the static side (a batch job at call time), and the probe — the
    JVM codegen one under the batch join's cap, else a broadcast pandas
    UDF — runs inside every micro-batch's plan — stream rows
    that cannot match are dropped BEFORE the stream-static join, so at
    scale they never reach the join's shuffle/state machinery.  Output
    is exactly equal to ``stream.join(static, on, how)`` (false
    positives only waste work), same contract as batch ``bloom_join``
    (``/root/reference/README.md:52-58``).

    Only ``inner`` and ``semi`` are supported: those are the join types
    where dropping non-matching PROBE rows provably preserves output
    (the batch planner's side-guard rule, plans/planner.py).

    CAVEAT — the filter is a SNAPSHOT of the static side at call time.
    Spark re-reads a stream-static join's static side every micro-batch,
    so if the static table GROWS mid-stream, rows matching only the new
    keys would be wrongly dropped by the stale filter.  Use this for
    genuinely static dimensions, or rebuild (re-call) on static-side
    updates; exact-equality holds for the snapshot the filter was built
    from."""
    from ..operators.bloom_join import (
        _common_cast,
        _key64,
        _size_build,
        _standard_join,
        membership_filter,
    )
    from ..plans.planner import normalize_how, resolve_join_columns
    from ..plans.sizing import size

    how = normalize_how(how)
    if how not in ("inner", "semi"):
        raise ValueError(
            "bloom_join_stream supports inner/semi (prefiltering the stream "
            f"side of a {how!r} join would change its output)"
        )
    pairs = resolve_join_columns(stream, static, on)
    st, dt = dict(stream.dtypes), dict(static.dtypes)
    casts = [_common_cast(st[sc], dt[yc]) for sc, yc in pairs]
    build_keyed = static.select(
        _key64(static, [p[1] for p in pairs], casts).alias("__bj_key64")
    )
    # a small static side is sized exactly and built on the driver
    build_keyed, _, _, n, small = _size_build(build_keyed, size(static), n_hint=n_hint)
    mf = membership_filter(build_keyed, n, fpp, "bloom", None, hashes=small)
    hit = mf.contains(_key64(stream, [p[0] for p in pairs], casts))
    return _standard_join(stream.filter(hit), static, pairs, how)


class StreamingSketchCollector:
    """Merge sketch partials from every micro-batch into running
    sketches (``sketches``, optionally keyed by a group column) through
    the batch merge's fold, ``aggregate.PartialRows``; ``lineage`` keeps
    one entry per folded partial row.

    Usage::

        coll = StreamingSketchCollector(lambda: HllSketch(14), cols=["user_id"])
        q = coll.attach(stream).start()
        q.processAllAvailable(); q.stop()
        coll.sketch().estimate()
    """

    def __init__(
        self,
        factory: Callable,
        cols: list[str] | None = None,
        token_col: str | None = None,
        group_col: str | None = None,
    ):
        from ..aggregate import PartialRows

        self.factory = factory
        self.cols = cols
        self.token_col = token_col
        self.group_col = group_col
        self._acc = PartialRows()
        self.sketches: dict = self._acc.sketches
        self.lineage: list[dict] = []

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..aggregate import grouped_sketch_partials, sketch_partials

        g = self.group_col
        if g is None:
            partials = sketch_partials(
                batch_df, self.factory, cols=self.cols, token_col=self.token_col
            )
        else:
            # ONE pass over the micro-batch for every group key — never
            # K filtered scans
            partials = grouped_sketch_partials(
                batch_df, self.factory, g, cols=self.cols, token_col=self.token_col
            )
        for row in partials.collect():
            key = None if g is None else row[g]
            self._acc.merge(key, row)
            lin = {c: row[c] for c in ("partition_id", "n_rows", "fingerprint")}
            self.lineage.append({"batch_id": batch_id, "key": key, **lin})

    def attach(self, stream: DataFrame):
        """Returns a writeStream ready to ``.start()``."""
        return stream.writeStream.foreachBatch(self._process_batch).outputMode(
            "append"
        )

    def sketch(self, key=None):
        return self.sketches.get(key)


def _quiet_state_padding() -> None:
    """In a state function's worker: ignore pandas' warning on PySpark's all-NA padding."""
    warnings.filterwarnings("ignore", "The behavior of DataFrame concatenation with empty "
                            "or all-NA", FutureWarning, r"pyspark\.sql\.pandas\.serializers")


def _ingest_frame(sk, pdf, cols, token_col, weight_col=None) -> int:
    """Feed ``sk`` one group frame of a state function through the batch
    grouped builder's own extraction and ingest
    (``aggregate.extract_batch`` with ``rows``), so stream state equals
    the batch build over the same rows; returns the rows it counts."""
    import pyarrow as pa

    from ..aggregate import extract_batch, ingest

    if len(pdf) == 0:
        return 0
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    _, x, counts, had_nulls = extract_batch(batch, sk, cols, token_col, weight_col, rows=True)
    ingest(sk, x, counts, had_nulls=had_nulls)
    # every row counts but a null vector's
    return len(x) if getattr(sk, "CONSUMES", None) == "vectors" else len(pdf)


def stateful_sketch_stream(
    stream: DataFrame,
    factory: Callable,
    group_col: str,
    cols: list[str] | str | None = None,
    token_col: str | None = None,
    extract: Callable | None = None,
):
    """Per-key RUNNING sketches as a custom stateful streaming operator
    (``applyInPandasWithState``): the state for each group key is the
    serialized sketch; every micro-batch's Arrow batches update it
    vectorized, and each trigger emits the key's refreshed estimate.

    Because updates are the same associative merge the batch path uses,
    the running estimate after any prefix of the stream equals the batch
    build over the same rows — retries/reordering inside a trigger
    cannot change it.  Output: (group, estimate, n_rows).

    All three ingest lanes work, mirroring the batch harness: hashes
    (Bloom/HLL/CMS/theta), values (t-digest/KLL/top-k), and vectors
    (FrequentDirections — per-source RUNNING spectral state, e.g.
    streaming embedding-drift alarms).  ``extract`` maps the running
    sketch to the emitted double (default ``.estimate()``, falling back
    to ``.total``; pass e.g. ``lambda s: s.quantile(0.5)`` or a gram
    trace); a sketch with neither gives a null estimate.

    Limit: PySpark hands the state function a bigint column that holds
    a null as float64, so such a batch's keys beyond 2^53 hash as their
    rounded double, unlike the batch build's exact bits."""
    from ..aggregate import _estimates, _item_cols
    from ..sketches.base import Sketch, pack

    cols = _item_cols(cols)
    finish, out_cols = _estimates(group_col, extract)

    def fn(key, pdf_iter, state):
        _quiet_state_padding()
        sk = Sketch.from_bytes(bytes(state.get[0])) if state.exists else factory()
        n = int(state.get[1]) if state.exists else 0
        for pdf in pdf_iter:
            n += _ingest_frame(sk, pdf, cols, token_col)
        state.update((pack(sk), n))
        yield finish(key[0], sk, n)

    out_schema = f"`{group_col}` {dict(stream.dtypes)[group_col]}, {out_cols}"
    state_schema = "blob binary, n long"
    return stream.groupBy(group_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", "NoTimeout"
    )


def topk_stream(
    stream: DataFrame,
    group_col: str,
    k: int = 10,
    capacity: int | None = None,
    cols: list[str] | str | None = None,
    token_col: str | None = None,
    weight_col: str | None = None,
):
    """Per-key RUNNING heavy hitters (``applyInPandasWithState``): the
    state for each group key is one serialized SpaceSaving sketch;
    every trigger folds the micro-batch in through the same PODS'12
    combine the batch :func:`~bloomjoin_spark.grouped_topk` uses and
    emits the key's refreshed top-``k`` rows ``(group, item, count_est,
    error, rank)`` through the batch's own row writer and checks
    (``aggregate._topk``) — so after any stream
    prefix the emitted rows equal
    a batch ``grouped_topk`` over the same rows (same invariants: true
    ∈ [count_est − error, count_est], exact when ``capacity`` covers
    the key's distinct items).

    ``weight_col`` ranks by weighted mass (each row's item counts
    ``weight`` times, integer ≥ 0) — "hottest items by token count per
    source", updated per trigger.  State per key is O(capacity), so
    total state is groups × capacity counters — bounded regardless of
    stream length, unlike exact streaming count aggregation whose state
    grows with distinct (group, item) pairs.

    Limit: PySpark hands the state function a bigint column that holds
    a null as float64, so such a batch's item and weight values beyond
    2^53 would round; ``TopKSketch`` takes items only up to 2^53."""
    from ..aggregate import _item_cols, _topk
    from ..sketches.base import pack
    from ..sketches.topk import TopKSketch

    factory, finish, out_cols = _topk("topk_stream", group_col, k, capacity)
    cols = _item_cols(cols, token_col, weight_col)

    def fn(key, pdf_iter, state):
        _quiet_state_padding()
        sk = TopKSketch.from_bytes(bytes(state.get[0])) if state.exists else factory()
        for pdf in pdf_iter:
            _ingest_frame(sk, pdf, cols, token_col, weight_col)
        state.update((pack(sk),))
        yield finish(key[0], sk)

    # the group column keeps its REAL dtype (int/bigint keys must round-
    # trip the state operator exactly as batch grouped_topk emits them)
    out_schema = f"`{group_col}` {dict(stream.dtypes)[group_col]}, {out_cols}"
    state_schema = "blob binary"
    return stream.groupBy(group_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", "NoTimeout"
    )


DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def documents_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1):
    """File-source stream over the documents table (tests/demos; same
    single-file glob trick as ``events_stream``)."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(_single_file_glob(sf_dir, "documents"))
    )


def _sorted_hit(ref: np.ndarray, flat: np.ndarray) -> np.ndarray:
    """Exact membership of ``flat`` in the sorted unique ``ref``."""
    if len(ref) == 0:
        return np.zeros(len(flat), dtype=bool)
    idx = np.searchsorted(ref, flat)
    return (idx < len(ref)) & (ref[np.minimum(idx, len(ref) - 1)] == flat)


def decontaminate_stream(
    stream: DataFrame,
    bench: DataFrame,
    n: int = 8,
    tokens="tokens",
    bench_tokens=None,
    mode: str = "drop",
    flag_col: str = "contaminated",
) -> DataFrame:
    """STREAMING benchmark decontamination: drop (or flag) stream
    documents sharing any token ``n``-gram with a static benchmark set.

    The batch operator's verify join needs a per-doc aggregation, which
    a streaming sink can't re-aggregate cheaply — but contamination is
    a PER-ROW predicate (does ANY n-gram of this doc hit the set?), so
    the streaming form needs no state at all: the benchmark side's
    distinct n-gram **64-bit hashes** are computed once (a batch job at
    call time), collected sorted (8 bytes per n-gram — eval suites are
    small by nature; a 1M-n-gram suite is 8 MB), broadcast, and every
    micro-batch evaluates one vectorized Arrow probe per document
    (JVM computes the per-doc hash array via
    ``transform(ngrams, xxhash64)``; numpy ``searchsorted`` decides).

    Membership is EXACT at the hash level — there is NO Bloom filter in
    this path (hence no ``fpp`` knob, unlike the batch operator);
    two distinct n-grams colliding in 64 bits (≈2⁻⁶⁴) could wrongly
    flag a doc, the standard dedup-hash caveat.  Same static-snapshot
    caveat as ``bloom_join_stream``: the set is frozen at call time.

    ``mode='drop'`` returns the stream without contaminated docs;
    ``mode='flag'`` returns it with a boolean ``flag_col``.
    """
    from ..operators.bloom_join import _python_probe
    from ..operators.decontam import ngram_hashes_col

    if mode not in ("drop", "flag"):
        raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")
    bcol = bench_tokens if bench_tokens is not None else tokens
    bcol = F.col(bcol) if isinstance(bcol, str) else bcol
    scol = F.col(tokens) if isinstance(tokens, str) else tokens

    # window-hash kernel (no gram materialization); both sides
    # materialize the token column first — ngram_hashes_col requires an
    # attribute, not a compound expression
    bh_pdf = (
        bench.select(bcol.alias("__bj_toks"))
        .select(F.explode(ngram_hashes_col(F.col("__bj_toks"), n)).alias("h"))
        .distinct()
        .toPandas()
    )
    bh = np.unique(bh_pdf["h"].to_numpy(dtype=np.int64))
    probe = _python_probe(stream.sparkSession, bh, _sorted_hit)

    base = stream.withColumn("__bj_toks", scol)
    flagged = probe(ngram_hashes_col(F.col("__bj_toks"), n), array=True)
    if mode == "flag":
        return base.withColumn(flag_col, flagged).drop("__bj_toks")
    return base.filter(~flagged).drop("__bj_toks")


def dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """STREAMING exact dedup: keep the first document per content
    fingerprint (md5 of lower(trim(text)) — the same canonical
    ``add_fingerprint`` key the batch ``exact_dedup`` uses, so batch
    and stream agree on what "duplicate" means).

    Uses Spark's state-store ``dropDuplicates`` — exact, per-key state.
    UNBOUNDED streams must bound that state: pass ``event_time_col`` +
    ``watermark`` (e.g. ``("ts", "1 hour")`` semantics) to use
    ``dropDuplicatesWithinWatermark``, which admits a duplicate again
    once its first occurrence ages out — the standard
    state-bounding trade (exact within the window, not across it).
    Without a watermark, state grows with distinct-fingerprint count
    (fine for bounded backfills, not for a forever-stream)."""
    from ..operators.text import add_fingerprint

    if (event_time_col is None) != (watermark is None):
        raise ValueError(
            "pass event_time_col AND watermark together (or neither)"
        )
    df = add_fingerprint(stream, text_col)
    if event_time_col is not None:
        return df.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
            ["content_fp"]
        )
    return df.dropDuplicates(["content_fp"])


def incremental_dedup_stream(
    stream: DataFrame,
    history: DataFrame | None = None,
    history_filter=None,
    text_col: str = "text",
    fpp: float = 1e-4,
    event_time_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """STREAMING incremental dedup: drop stream documents whose content
    is already in a historical corpus, then keep first-seen per
    fingerprint within the stream — the continuous-ingest form of
    ``operators.dedup.incremental_dedup`` (same md5 fingerprint, so
    batch and stream agree on what "already ingested" means).

    History membership is decided per micro-batch with ZERO history
    scans on the hot path: each row's fingerprint probes the broadcast
    Bloom filter of history fingerprints (``history_filter`` from
    ``build_history_filter`` — build it once, reuse across restarts;
    else built here from ``history``, one batch job at call time).
    Rows that MISS are definitively new (no false negatives) and skip
    the join entirely.  When ``history`` is given, filter HITS take a
    stream-static LEFT ANTI join against the history fingerprints, so
    Bloom false positives cannot drop a genuinely-new document; the
    static side joins only the ≈(true dups + fpp·batch) candidate
    branch.  With only ``history_filter`` (no ``history`` frame to
    verify against), hits are dropped directly and the fpp IS the
    false-drop rate — document-level 1e-4 by default, the declared
    trade for a history-free hot path.

    Within-stream dedup uses the state store exactly like
    ``dedup_stream`` (watermark-bounded when ``event_time_col`` +
    ``watermark`` are passed).  The history side is a frozen snapshot,
    same caveat as ``bloom_join_stream``; re-create the query to pick
    up a newer filter.
    """
    from ..operators.dedup import (
        _history_filter_hit,
        build_history_filter,
        content_fingerprint,
    )
    from ..operators.text import add_fingerprint

    if history is None and history_filter is None:
        raise ValueError(
            "incremental_dedup_stream needs history= (exact verify) "
            "and/or history_filter= (prebuilt Bloom filter)"
        )
    if (event_time_col is None) != (watermark is None):
        raise ValueError(
            "pass event_time_col AND watermark together (or neither)"
        )
    if history_filter is None:
        history_filter = build_history_filter(history, text_col, fpp=fpp)

    df = add_fingerprint(stream, text_col)
    hit = _history_filter_hit(stream.sparkSession, history_filter, F.col("content_fp"))
    if history is not None:
        hfp = history.select(
            content_fingerprint(text_col).alias("content_fp")
        ).distinct()
        fresh = df.filter(~hit).unionByName(
            df.filter(hit).join(hfp, "content_fp", "left_anti")
        )
    else:
        fresh = df.filter(~hit)

    if event_time_col is not None:
        return fresh.withWatermark(
            event_time_col, watermark
        ).dropDuplicatesWithinWatermark(["content_fp"])
    return fresh.dropDuplicates(["content_fp"])
