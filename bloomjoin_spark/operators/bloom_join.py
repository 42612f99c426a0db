"""bloom_join — Bloom-filter semi-join prefilter in front of a native
Spark join.  The flagship operator; results are EXACTLY identical to
``x.join(y, on, how)`` — false positives only waste work, never change
output (the reference's core contract, ``/root/reference/README.md:52-58``,
``src/hash_keys.cpp:58-68``).

Spark-first execution (contrast with the reference's single-process
pipeline, ``R/bloomjoin.R:62-124``):

1. keys are canonicalised with explicit casts (Catalyst's own coercion
   rules) and hashed JVM-side with ``F.xxhash64`` — whole-stage codegen,
   nothing leaves the JVM on the hot path;
2. a build side of at most ``_SMALL_BUILD_ROWS`` rows comes back as
   hashes in ONE bounded collect: exact distinct count, filter built on
   the driver (the reference's one pass, ``src/BloomFilter.cpp:102-118``),
   under either engine and with or without ``n_hint``.  One whose plan
   size is unknown is cached and counted first, and comes back from the
   cache when the count is that small.  A larger one is built by Spark's
   ``stat.bloomFilter`` (native engine) or streams once through
   ``mapInArrow``, one Bloom partial per partition, partials tree-merged
   by OR (sketch engine);
3. ``membership_filter`` — the one build-and-probe dispatch this
   operator shares with ``bloom_join_stream``, decontam and spans —
   keeps every filter in Spark's own bit layout (``sketches/bloom.py``),
   so one under ``_NATIVE_FILTER_CAP_BYTES`` probes as the JVM's
   ``BloomFilterMightContain`` inside whole-stage codegen, whatever the
   engine built it, with no Python stage; only a larger one is broadcast
   and probed by a pandas UDF.  Either way the probe runs BEFORE the
   join exchange, so dropped rows are never shuffled — that is the
   whole point at 100 TB: the shuffle is the bottleneck, and the filter
   costs ~10 bits/key instead of shuffling the full probe side.  Row
   metrics come from one ``Observation`` on the probe side;
4. the surviving rows feed a completely ordinary ``df.join`` — Catalyst
   still picks broadcast/SMJ/SHJ, AQE still handles skew.

Why not just ``spark.sql.optimizer.runtime.bloomFilter.enabled``?  That
rule is opaque and heuristic (creation side size thresholds, no fpp
control, no metrics). This operator is the explicit, inspectable
version: you choose fpp/side, you get a ``BloomJoinReport`` with the
filter's actual fill ratio and per-stage row counts (reference metadata
parity: ``R/bloomjoin.R:266-322``).
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..aggregate import build_sketch
from ..plans.planner import (
    BloomJoinReport,
    choose_prefilter_target,
    normalize_how,
    resolve_join_columns,
    should_skip_prefilter,
    spark_how,
    validate_join_inputs,
)
from ..sketches.bloom import BloomSketch, bloom_sizing, spark_sizing

#: probe-side sample size for the selectivity estimate — the reference's
#: probe_limit (R/bloomjoin.R:240-257 uses 5000)
_SELECTIVITY_SAMPLE = 5000

#: practical per-executor broadcast budget for the filter itself
_BROADCAST_BUDGET_BYTES = 512 << 20

#: size cap of the codegen probe, for both engines: the serialized
#: filter rides the plan as a literal, so it is re-serialized into EVERY
#: task binary (Spark's own runtime-filter rule ships it once, as the
#: result of a subquery its optimizer plans, which no public API can
#: build).  Above this cap the filter is broadcast once per executor
#: and probed by a pandas UDF.
_NATIVE_FILTER_CAP_BYTES = 16 << 20

#: exact-sizing bound: a build side of at most this many rows comes
#: back as 8-byte key hashes (≤ 32 MiB) in one bounded collect instead
#: of a persist + approximate-distinct pass + distributed build
_SMALL_BUILD_ROWS = 1 << 22

#: that collect runs in ONE task: a build side whose plan size estimate
#: is unknown or over one default input split keeps the parallel lane
_SMALL_BUILD_SCAN_BYTES = 128 << 20

#: once-per-session latch for the native→sketch fallback warning (the
#: per-call record lives in BloomJoinReport.engine_fallback_reason)
_native_fallback_warned = False

_NUM_RANK = {
    "tinyint": 0,
    "byte": 0,
    "smallint": 1,
    "short": 1,
    "int": 2,
    "integer": 2,
    "bigint": 3,
    "long": 3,
    "float": 4,
    "double": 5,
}


def _common_cast(tx: str, ty: str) -> str | None:
    """Cast type so our hash agrees with Catalyst's join equality
    (= the reference's cross-type invariant, src/hash_keys.cpp:58-68).
    None = no cast needed."""
    tx, ty = tx.lower(), ty.lower()
    if tx == ty:
        return None
    if tx.startswith("decimal") or ty.startswith("decimal"):
        return "double"
    nx, ny = _NUM_RANK.get(tx), _NUM_RANK.get(ty)
    if nx is not None and ny is not None:
        # Spark's findTightestCommonType: higher-rank wins (long+float→float)
        order = ["byte", "short", "int", "long", "float", "double"]
        return order[max(nx, ny)]
    if "string" in (tx, ty) and (nx is not None or ny is not None):
        return "double"  # Spark compares string vs numeric as double
    if {"date", "timestamp"} == {tx, ty}:
        return "timestamp"
    if "string" in (tx, ty) and ("date" in (tx, ty) or "timestamp" in (tx, ty)):
        return tx if tx != "string" else ty
    warnings.warn(
        f"no canonical cast for join key types ({tx}, {ty}); hashing as string — "
        "consider casting the keys explicitly",
        stacklevel=2,
    )
    return "string"


def _key64(df: DataFrame, cols: list[str], casts: list[str | None]) -> Column:
    """JVM-side canonical 64-bit key hash (stays in whole-stage codegen)."""
    exprs = [
        F.col(c).cast(t) if t is not None else F.col(c) for c, t in zip(cols, casts)
    ]
    return F.xxhash64(*exprs)


def _segmented_any(hs: pd.Series, hit_fn) -> np.ndarray:
    """Per-row ANY over a batch of ``array<bigint>`` rows: flatten the
    batch, run ``hit_fn(flat_int64) -> bool[]`` ONCE, then segment-ANY
    via cumsum.  NULL/empty rows → False."""
    lens = np.fromiter(
        (0 if v is None else len(v) for v in hs), dtype=np.int64, count=len(hs)
    )
    if int(lens.sum()) == 0:
        return np.zeros(len(hs), dtype=bool)
    flat = np.concatenate(
        [np.asarray(v, dtype=np.int64) for v in hs if v is not None and len(v)]
    )
    hit = np.asarray(hit_fn(flat), dtype=bool)
    cs = np.concatenate([[0], np.cumsum(hit)])
    ends = np.cumsum(lens)
    return cs[ends] > cs[ends - lens]


def _python_probe(spark, value, hit):
    """The one membership probe outside codegen: ``value`` is broadcast
    once, and the returned ``probe(col, array=False) -> Column`` is a
    vectorized pandas UDF (ArrowEvalPython) that answers
    ``hit(value, batch) -> bool[]`` per Arrow batch.  ``array=True``
    probes an ``array<bigint>`` column: the batch's rows are flattened
    once, ``hit`` runs over the flat int64 values, and a row is True
    when ANY element hits (NULL/empty rows → False).  ``bc.value``
    unpickles ``value`` once per executor process."""
    bc = spark.sparkContext.broadcast(value)

    def probe(col: Column, array: bool = False) -> Column:
        @F.pandas_udf("boolean")
        def udf(s: pd.Series) -> pd.Series:
            v = bc.value
            if array:
                return pd.Series(_segmented_any(s, lambda flat: hit(v, flat)))
            return pd.Series(np.asarray(hit(v, s), dtype=bool))

        # nondeterministic on every site: it stops Catalyst's constraint
        # propagation from copying a probe onto the BUILD side through a
        # join condition — a filter built from those very keys passes
        # 100% there, and it is pure wasted Python time
        return udf.asNondeterministic()(col)

    return probe


def _bloom_hit(bf: BloomSketch, h) -> np.ndarray:
    return bf.contains_hashes(np.asarray(h, dtype=np.int64).view(np.uint64))


class MembershipFilter:
    """A built Bloom filter and its two probe predicates (see
    :func:`membership_filter`): ``contains(col)`` over a bigint hash
    column, ``any_in(arr)`` over an ``array<bigint>`` one (True when any
    element may be a member).  Under ``_NATIVE_FILTER_CAP_BYTES`` both
    are the codegen ``BloomFilterMightContain`` over ``blob``; above it,
    or on private-API drift, both are the broadcast pandas probe
    (``_python_probe``, one broadcast for both)."""

    def __init__(self, spark, sketch: BloomSketch | None, blob: bytes | None,
                 report, forced: bool, partitions: int, rounds: int):
        #: the driver-held filter; None when Spark built it
        self.sketch = sketch
        #: Spark's serialized filter, the codegen literal; None above the cap
        self.blob = blob
        self.bits = sketch.m if sketch is not None else len(blob) * 8
        self.partitions, self.rounds = partitions, rounds
        self._spark, self._report, self._forced = spark, report, forced
        self._py = None

    def driver_sketch(self) -> BloomSketch:
        """The filter on the driver, loaded from ``blob`` when Spark
        built it."""
        if self.sketch is None:
            self.sketch = BloomSketch.from_spark_bytes(self.blob)
        return self.sketch

    @property
    def codegen(self) -> bool:
        """True while both probes are the codegen ``BloomFilterMightContain``."""
        return self.blob is not None and self._py is None

    def contains(self, col: Column) -> Column:
        return self._probe(col, array=False)

    def any_in(self, arr: Column) -> Column:
        return self._probe(arr, array=True)

    def _probe(self, col: Column, array: bool) -> Column:
        # once the pandas probe is in use (after a drift fallback) the
        # codegen probe is not retried
        if self.codegen:
            try:
                if array:
                    return F.exists(
                        col, lambda h: _native_might_contain(self._spark, self.blob, h)
                    )
                return _native_might_contain(self._spark, self.blob, col)
            except Exception as ex:  # private-API drift → pandas probe
                _note_native_fallback(self._report, ex, self._forced)
        if self._py is None:
            self._py = _python_probe(self._spark, self.driver_sketch().seal(), _bloom_hit)
        return self._py(col, array)


def membership_filter(
    keyed: DataFrame, n: int, fpp: float, engine: str, report, *,
    hashes: np.ndarray | None = None, fanin: int = 64,
    checkpoint_dir: str | None = None,
) -> MembershipFilter:
    """Build a Bloom filter over the int64 ``__bj_key64`` column of
    ``keyed``, sized for ``n`` distinct keys at ``fpp`` — the one
    build-and-probe dispatch behind ``bloom_join``, ``bloom_join_stream``,
    decontam and spans (the reference's single ``BloomFilter`` class,
    ``src/BloomFilter.h:15-51``).

    ``engine``: ``"auto"`` is ``"native"`` unless ``checkpoint_dir`` is
    set.  ``"native"`` builds in Spark (``stat.bloomFilter``, one
    treeAggregate, no Python); ``"bloom"`` builds one mergeable partial
    per partition, tree OR-merged (the lane ``checkpoint_dir`` resumes).
    A small build side's distinct key ``hashes`` are built on the driver
    under either engine, at ``bloom_sizing``'s power-of-two size, or
    under ``"native"`` at Spark's own size where only that one fits
    under the cap.  A native filter predicted or serialized above
    ``_NATIVE_FILTER_CAP_BYTES``, or a native build that fails on
    private-API drift, falls back to the sketch engine.  The fallback
    warns on every call that asked for ``"native"``, once per session
    under ``"auto"``.

    Sets ``report.engine``, ``report.filter_bits`` and, on a fallback,
    ``report.engine_fallback_reason`` (``report`` may be None), and
    releases ``keyed`` if it is cached."""
    forced = engine == "native"
    if engine == "auto":
        engine = "bloom" if checkpoint_dir else "native"
    sketch = blob = None
    parts, rounds = 1, 0
    try:
        if engine == "native":
            try:
                # n is known: check the cap before building, and after
                _check_native_cap(_native_filter_bytes(n, fpp), "predicted")
                if hashes is None:
                    blob = _native_build_filter(keyed, n, fpp)
                    _check_native_cap(len(blob), "serialized")
                elif _spark_blob_bytes(bloom_sizing(n, fpp)[0]) > _NATIVE_FILTER_CAP_BYTES:
                    # the driver's power-of-two size, up to twice Spark's,
                    # misses the cap where Spark's fits: build Spark's
                    # filter on the driver, with no build job
                    sk = BloomSketch.spark_sized(n, fpp)
                    sk.update_hashes(hashes)
                    blob = sk.to_spark_bytes()
            except Exception as ex:  # private-API drift / size gate → sketch engine
                _note_native_fallback(report, ex, forced)
                engine, blob = "bloom", None
        if blob is None:
            if hashes is not None:
                sketch = BloomSketch(n, fpp)
                sketch.update_hashes(hashes)
            else:
                res = build_sketch(
                    keyed, factory=lambda: BloomSketch(n, fpp), cols=["__bj_key64"],
                    prehashed=True, fanin=fanin, checkpoint_dir=checkpoint_dir,
                )
                sketch, parts, rounds = res.sketch, res.n_partitions, res.merge_rounds
            if _spark_blob_bytes(sketch.m) <= _NATIVE_FILTER_CAP_BYTES:
                blob = sketch.to_spark_bytes()
            # broadcast-budget guard (SURVEY §7 hard parts): the 2^40-bit
            # cap of the reference becomes a practical broadcast warning —
            # a filter bigger than ~512 MB should be rethought (higher
            # fpp, or let the join shuffle), not silently shipped to
            # every executor
            if sketch.m // 8 > _BROADCAST_BUDGET_BYTES:
                warnings.warn(
                    f"bloom filter is {sketch.m >> 23} MiB (n={n}, fpp={fpp}) — "
                    f"above the {_BROADCAST_BUDGET_BYTES >> 20} MiB broadcast "
                    "budget; consider a larger fpp, an n_hint, or skipping the "
                    "prefilter",
                    stacklevel=3,
                )
    finally:
        if keyed.is_cached:
            keyed.unpersist()
    mf = MembershipFilter(keyed.sparkSession, sketch, blob, report, forced, parts, rounds)
    if report is not None:
        report.engine = engine
        report.filter_bits = mf.bits
    return mf


def bloom_join(
    x: DataFrame,
    y: DataFrame,
    on=None,
    how: str = "inner",
    *,
    fpp: float = 0.01,
    engine: str = "auto",
    prefilter_side: str = "auto",
    n_hint: int | dict | None = None,
    min_probe_bytes: int | None = None,
    force_prefilter: bool = False,
    selectivity_check: bool = True,
    collect_metrics: bool = True,
    fanin: int = 64,
    checkpoint_dir: str | None = None,
    return_report: bool = False,
    verbose: bool = False,
):
    """Join ``x`` and ``y`` with an optional Bloom prefilter stage.

    API parity with the reference entry point
    (``/root/reference/R/bloomjoin.R:62-124``): same join types, same
    fpp default, same side guard + auto side choice + skip heuristics,
    same engine dispatch (``"fuse"`` reserved → NotImplementedError,
    ``R/bloomjoin.R:261-264``), metadata report with the same fields.

    ``min_probe_bytes``: plan-stats floor for the probe side — when its
    Catalyst size estimate is under this, auto mode skips the prefilter
    (the fixed decision/build jobs would cost more than the saved
    shuffle).  ``None`` → the 256 MB default
    (``plans.planner.MIN_PROBE_BYTES``); ``0`` disables the floor.
    ``force_prefilter=True`` bypasses it like every other gate.

    ``engine``: ``"native"`` builds a large build side with Spark's
    ``stat.bloomFilter``; ``"bloom"`` builds it as mergeable per-partition
    partials (required for ``checkpoint_dir``); ``"auto"`` is native
    unless ``checkpoint_dir`` is set.  Small build sides are built on the
    driver and every filter under ``_NATIVE_FILTER_CAP_BYTES`` probes in
    the JVM under either engine (``membership_filter``).  A native
    filter that falls back to the sketch engine warns on every
    ``"native"`` call and once per session under ``"auto"``.

    Memory-starved executors + a filter above the cap: the pandas probe
    is an ArrowEvalPython stage that queues FULL-WIDTH probe rows while
    their hashes round-trip through Python; on small heaps that queue
    is the bottleneck.  Cap
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` to ~16384 there
    (measured at a 3 GiB heap over 8 M wide rows: 65536→7.3 s,
    16384→6.4 s, 4096→7.5 s — BENCH.md).

    ``collect_metrics``: observe the probe side (rows in, rows that hit)
    with one ``Observation``; ``report.finalize()`` reads it after an
    action.

    Returns the joined DataFrame (identical to ``x.join(y, on, how)``),
    or ``(df, BloomJoinReport)`` when ``return_report=True``.
    """
    if engine == "fuse":
        raise NotImplementedError("engine='fuse' is reserved and not implemented")
    if engine not in ("auto", "bloom", "native"):
        raise ValueError(
            f"engine must be 'auto'|'bloom'|'native'|'fuse', got {engine!r}"
        )
    if engine == "native" and checkpoint_dir:
        raise ValueError(
            "checkpoint_dir (per-partition lineage/resume) requires the "
            "mergeable two-phase engine — use engine='bloom'"
        )
    validate_join_inputs(x, y, how, fpp)
    how = normalize_how(how)
    pairs = resolve_join_columns(x, y, on)
    report = BloomJoinReport(join_type=how, fpr=fpp)

    # ---- side guard (O18) -------------------------------------------
    # inner + auto: filter the LARGER side by Catalyst plan stats (free,
    # no job) — the analog of the reference's density rule
    # (R/bloomjoin.R:367-376): the big side gains the most from being
    # filtered, the small side makes the cheapest filter.
    n_x = n_y = None
    if how == "inner" and prefilter_side == "auto":
        bx, by = _plan_size_bytes(x), _plan_size_bytes(y)
        if bx is not None and by is not None and bx != by:
            n_x, n_y = bx, by
    target, override = choose_prefilter_target(how, prefilter_side, n_x=n_x, n_y=n_y)
    report.override_requested_side = override
    n_hints = _normalize_n_hint(n_hint)

    # ---- one skip rule (plans.planner.should_skip_prefilter), asked
    # three times as the evidence arrives: free plan stats, the build
    # side's size, the sampled reduction.  Every skip takes one exit.
    mf, skip_reasons = None, []
    if target is not None:
        build_df, probe_df = (y, x) if target == "x" else (x, y)
        build_cols = [p[1] for p in pairs] if target == "x" else [p[0] for p in pairs]
        probe_cols = [p[0] for p in pairs] if target == "x" else [p[1] for p in pairs]
        build_name = "y" if target == "x" else "x"

        # ---- Spark-specific gates, both free (plan-stats sizeInBytes,
        # no job runs — parquet footers / in-memory relation stats):
        # 1. broadcast gate: if Catalyst would broadcast the build side
        #    anyway, a broadcast-hash join already avoids the probe
        #    shuffle and the prefilter only adds passes (SURVEY.md §4.1
        #    "cost-based skip" re-tuned for Spark);
        # 2. probe floor: a probe side under MIN_PROBE_BYTES shuffles
        #    less than the prefilter's fixed decision/build jobs cost —
        #    the reference's probe_rows < 1024 gate (R/bloomjoin.R:385-
        #    387) re-expressed on Catalyst's free size signal.
        #    min_probe_bytes=0 disables; None → planner.MIN_PROBE_BYTES.
        if not force_prefilter:
            floor = _resolve_min_probe_bytes(x.sparkSession, min_probe_bytes)
            skip_reasons = should_skip_prefilter(
                build_bytes_estimate=_plan_size_bytes(build_df),
                broadcast_threshold=_broadcast_threshold(x.sparkSession),
                probe_bytes_estimate=_plan_size_bytes(probe_df) if floor else None,
                min_probe_bytes=floor or None,
            )

    if target is not None and not skip_reasons:
        # ---- canonical casts shared by build hash and probe hash
        xt, yt = dict(x.dtypes), dict(y.dtypes)
        casts = [_common_cast(xt[xc], yt[yc]) for xc, yc in pairs]

        # ---- sizing by DISTINCT keys, the reference's right-sizing step
        # (src/BloomFilter.cpp:102-118): sizing by raw rows bloats the
        # filter when the build side repeats keys
        build_keyed = build_df.select(
            _key64(build_df, build_cols, casts).alias("__bj_key64")
        )
        build_keyed, report.n_build, build_distinct, n_build, small = _size_build(
            build_df, build_keyed, exact=checkpoint_dir is None,
            n_hint=n_hints.get(build_name),
        )
        report.build_distinct_estimate = build_distinct
        if not force_prefilter:
            skip_reasons = should_skip_prefilter(
                n_probe=n_hints.get("probe"),
                build_distinct=n_build if build_distinct is None else build_distinct,
            )
        if skip_reasons and build_keyed.is_cached:
            build_keyed.unpersist()  # skip path must release the cache

    if target is not None and not skip_reasons:
        # ---- one filter, either engine; a small build side is built on
        # the driver, and any filter under the cap probes in codegen
        mf = membership_filter(
            build_keyed, n_build, fpp, engine, report, hashes=small, fanin=fanin,
            checkpoint_dir=checkpoint_dir,
        )
        sketch = mf.sketch
        if sketch is not None:
            report.build_partitions = mf.partitions
            report.merge_rounds = mf.rounds
            report.filter_hashes = sketch.k
            fill = sketch.fill_ratio()
            report.filter_fill_ratio = fill
            # distinct estimate by inverting the fill ratio: d ≈ -(m/k)·ln(1-fill)
            if report.build_distinct_estimate is None and 0.0 < fill < 1.0:
                report.build_distinct_estimate = int(-(sketch.m / sketch.k) * np.log1p(-fill))

        probe_hash = _key64(probe_df, probe_cols, casts)

        # ---- sampled selectivity (O16, estimate_selectivity
        # R/bloomjoin.R:240-257) + cost-based skip (O17, :300-311): probe
        # a driver-side sample against the just-built filter; the
        # measured pass rate IS s + (1−s)·fpr, the reference's
        # expected_pass formula.
        if selectivity_check and not force_prefilter:
            hs = _systematic_probe_sample(probe_df, probe_hash, _SELECTIVITY_SAMPLE)
            if len(hs):
                pass_rate = float(mf.driver_sketch().contains_hashes(hs).mean())
                report.selectivity_estimate = max(
                    0.0, min(1.0, (pass_rate - fpp) / max(1.0 - fpp, 1e-12))
                )
                report.expected_reduction = 1.0 - pass_rate
                skip_reasons = should_skip_prefilter(
                    expected_reduction=report.expected_reduction
                )

    if mf is None or skip_reasons:
        report.engine = "none"
        report.skip_reasons = skip_reasons
        if verbose and skip_reasons:
            print(f"bloom_join: prefilter skipped: {'; '.join(skip_reasons)}")
        out = _standard_join(x, y, pairs, how)
        return (out, report) if return_report else out

    report.used_prefilter = True
    report.prefilter_side = target
    report.build_side = build_name
    hit = mf.contains(probe_hash)
    if collect_metrics:
        # row metrics land after an action via report.finalize()
        obs = Observation()
        filtered = (
            probe_df.withColumn("__bj_hit", hit)
            .observe(obs, F.count(F.lit(1)).alias("rows_in"),
                     F.count_if("__bj_hit").alias("rows_hit"))
            .filter("__bj_hit")
            .drop("__bj_hit")
        )
        report._observation = obs
    else:
        filtered = probe_df.filter(hit)

    if target == "x":
        out = _standard_join(filtered, y, pairs, how)
    else:
        out = _standard_join(x, filtered, pairs, how)
    if verbose:
        print(
            f"bloom_join[{report.engine}]: prefiltering {target} with a "
            f"{report.filter_bits >> 13} KiB filter (build n={n_build})"
        )
    return (out, report) if return_report else out


def _spark_blob_bytes(m: int) -> int:
    """Serialized size of an m-bit Spark filter (16-byte V2 header)."""
    return m // 8 + 16


def _native_might_contain(spark, filter_bytes: bytes, value_col: Column) -> Column:
    """JVM-codegen Bloom probe: a ``BloomFilterMightContain`` expression
    over a binary literal holding Spark's own ``BloomFilterImpl`` —
    ZERO Python on the probe path (the expression participates in
    whole-stage codegen exactly like Spark's internal runtime filter,
    which uses this same expression but is not exposed as SQL).  Built
    through two classic-mode helpers (`ExpressionUtils`); callers catch
    Exception and fall back to the vectorized Python probe."""
    from pyspark.sql.column import Column as PyColumn

    jvm = spark.sparkContext._jvm
    eu = jvm.org.apache.spark.sql.classic.ExpressionUtils
    lit_expr = eu.expression(F.lit(filter_bytes)._jc)
    val_expr = eu.expression(value_col._jc)
    mc = jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        lit_expr, val_expr
    )
    return PyColumn(eu.column(mc))


def _note_native_fallback(report, ex: Exception, forced: bool) -> None:
    """Record on ``report`` that the sketch engine ran and why the
    native one did not; warn on every ``forced`` call, else once per
    session (observable, VERDICT r4 #3, without spamming a pipeline that
    calls thousands of times)."""
    global _native_fallback_warned
    if report is not None:
        report.engine = "bloom"
        report.engine_fallback_reason = repr(ex)
    if forced or not _native_fallback_warned:
        _native_fallback_warned = _native_fallback_warned or not forced
        warnings.warn(
            f"native bloom engine unavailable ({ex!r}); falling back to the "
            "sketch engine" + ("" if forced else " (warning once per session; "
            "every affected report carries engine_fallback_reason)"),
            stacklevel=4,
        )


def _native_filter_bytes(n: int, fpp: float) -> int:
    """Serialized size of Spark's ``BloomFilter.create(n, fpp)``, known
    before the build."""
    return _spark_blob_bytes(spark_sizing(n, fpp)[0])


def _check_native_cap(n_bytes: int, what: str) -> None:
    """Raise when a native filter is over the plan-literal cap; the
    caller falls back to the sketch engine and records the reason."""
    cap = _NATIVE_FILTER_CAP_BYTES
    if n_bytes > cap:
        raise RuntimeError(
            f"{what} native filter is {n_bytes:,} bytes, above the {cap:,}-byte "
            "plan-literal cap (it would be re-serialized into every task binary)"
        )


def _bounded_collect(df: DataFrame, gate: DataFrame, max_rows: int):
    """``df``'s rows as one Arrow table from ONE early-terminating
    collect (one job, one JVM task), or None.  It runs only when
    ``gate``'s free plan stats (no job) put it at most ``max_rows``
    rows and ``_SMALL_BUILD_SCAN_BYTES``; a collect that comes back
    over ``max_rows`` is None too.  A plan with no row count (a file
    scan without CBO) passes on its bytes alone, so the collect stops
    after ``max_rows + 1`` rows: that bounds the work thrown away."""
    try:  # free plan stats, no job
        st = gate._jdf.queryExecution().optimizedPlan().stats()
        rows = int(st.rowCount().get()) if st.rowCount().isDefined() else 0
        small = rows <= max_rows and (
            int(st.sizeInBytes()) <= _SMALL_BUILD_SCAN_BYTES
        )
    except Exception:
        small = False
    if not small:
        return None
    tbl = df.coalesce(1).limit(max_rows + 1).toArrow()
    return tbl if tbl.num_rows <= max_rows else None


def _size_build(build_df: DataFrame, build_keyed: DataFrame, exact: bool = True,
                n_hint: int | None = None):
    """``(keyed, rows, distinct, n, hashes)`` of a build side, ``n``
    sizing the filter.  When ``exact``, a build side that passes the
    plan-stats gate comes back in ONE bounded collect
    (``_bounded_collect``) whose unique ``hashes`` count its keys
    exactly, hinted or not.  Otherwise an ``n_hint`` sizes it
    (``rows`` = the hint, ``distinct`` None), or ``keyed`` is persisted
    and one aggregate (partial-aggregated HLL, no wide shuffle) counts
    it in the job that caches it (``_materialize``).  A cached build
    side of at most ``_SMALL_BUILD_ROWS`` rows (when ``exact``) then
    still comes back as exact ``hashes``, collected from the cache, for
    a driver build; a larger one is sized by the estimate for the
    distributed build."""
    tbl = _bounded_collect(build_keyed, build_df, _SMALL_BUILD_ROWS) if exact else None
    if tbl is None and n_hint is not None:
        return build_keyed, n_hint, None, n_hint, None
    if tbl is None:
        build_keyed, stats = _materialize(
            build_keyed,
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(build_keyed.columns[0], 0.02).alias("d"),
            persist=True,
        )
        if not exact or stats["n"] > _SMALL_BUILD_ROWS:
            d = int(stats["d"])
            # 1.05 margin absorbs the ±2% rsd so the fpp target holds
            return build_keyed, int(stats["n"]), d, max(16, int(d * 1.05)), None
        try:
            tbl = build_keyed.toArrow()
        except BaseException:
            build_keyed.unpersist()
            raise
    uniq = np.unique(tbl.column(0).to_numpy().view(np.uint64))
    return build_keyed, tbl.num_rows, len(uniq), max(16, len(uniq)), uniq


def _materialize(df: DataFrame, *counters: Column, persist: bool = False):
    """``(df, counts)``: ``df`` materialized by ONE job that also yields
    the aggregate ``counters`` (``counts[name]``) through an
    ``Observation`` — no second action re-reads ``df`` to count it, so
    no global aggregate and no single-partition exchange.  ``df`` comes
    back as an eager ``localCheckpoint``, or with ``persist`` cached by
    a ``noop`` write, so the caller can release it with ``unpersist()``."""
    obs = Observation()
    if not persist:
        return df.observe(obs, *counters).localCheckpoint(), obs.get
    df = df.persist()
    try:
        df.observe(obs, *counters).write.format("noop").mode("overwrite").save()
    except BaseException:
        df.unpersist()
        raise
    return df, obs.get


def _native_build_filter(build_keyed: DataFrame, n_build: int, fpp: float) -> bytes:
    """Build Spark's JVM BloomFilter over the hashed key projection (one
    treeAggregate, no Python) and serialize it for the probe literal."""
    spark = build_keyed.sparkSession
    jbf = build_keyed._jdf.stat().bloomFilter("__bj_key64", n_build, fpp)
    bos = spark.sparkContext._jvm.java.io.ByteArrayOutputStream()
    jbf.writeTo(bos)
    return bytes(bos.toByteArray())


def _systematic_probe_sample(probe_df: DataFrame, probe_hash: Column, n: int) -> np.ndarray:
    """Hashed keys of the first ⌈n/P⌉ rows of EVERY partition, as one
    early-terminating pass (tasks stop pulling batches once satisfied —
    no full scan).  A ``.limit(n)`` sample collapses to the first
    partition(s) and is arbitrarily biased when the data is clustered or
    sorted by the join key; spanning every partition is the reference's
    systematic-sampling intent (R/bloomjoin.R:240-257) at Spark scale."""
    keyed = probe_df.select(probe_hash.alias("h"))
    nparts = max(1, keyed.rdd.getNumPartitions())  # metadata, no job
    per = max(16, -(-n // nparts))

    def head_fn(it):
        taken = 0
        for batch in it:
            if batch.num_rows == 0:
                continue
            take = min(per - taken, batch.num_rows)
            yield batch.slice(0, take)
            taken += take
            if taken >= per:
                return

    pdf = keyed.mapInArrow(head_fn, schema="h bigint").toPandas()
    return pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)


def _standard_join(x: DataFrame, y: DataFrame, pairs, how: str) -> DataFrame:
    """The exact-identity fallback/final join (reference
    perform_standard_join, R/bloomjoin.R:458-474): a completely native
    Spark join so Catalyst/AQE own the physical strategy."""
    sh = spark_how(how)
    if all(xc == yc for xc, yc in pairs):
        return x.join(y, on=[xc for xc, _ in pairs], how=sh)
    cond = None
    for xc, yc in pairs:
        c = x[xc] == y[yc]
        cond = c if cond is None else (cond & c)
    return x.join(y, on=cond, how=sh)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst plan-stats size estimate (bytes); None if unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


_BYTE_SUFFIX = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
                "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
                "tb": 1 << 40}


def _parse_byte_string(raw: str) -> int:
    """Spark-style byte string ('128m', '2g', '1024') → bytes.  Parsed
    in Python (no JVM reach-through, works on Connect); raises
    ValueError on malformed input — a user-set conf must never be
    silently ignored."""
    s = raw.strip().lower()
    num = s.rstrip("kmgtb")
    mult = _BYTE_SUFFIX.get(s[len(num):])
    if mult is None or not num:
        raise ValueError(f"cannot parse byte string {raw!r}")
    return int(float(num) * mult)


def _resolve_min_probe_bytes(spark, param: int | None) -> int:
    """Probe-floor resolution: explicit param → session conf
    ``spark.bloomjoin.minProbeBytes`` (accepts Spark byte strings like
    "128m"; "0" disables) → planner.MIN_PROBE_BYTES default.  A SET
    conf that fails to parse raises — silently substituting the
    default would make the planner contradict explicit operator
    config."""
    from ..plans.planner import MIN_PROBE_BYTES

    if param is not None:
        return int(param)
    try:
        raw = spark.conf.get("spark.bloomjoin.minProbeBytes", None)
    except Exception:
        raw = None  # conf API itself unavailable → default
    if raw is not None:
        try:
            return _parse_byte_string(raw)
        except ValueError as ex:
            raise ValueError(
                f"spark.bloomjoin.minProbeBytes={raw!r} is not a valid byte "
                "string (examples: '0', '256m', '2g')"
            ) from ex
    return MIN_PROBE_BYTES


def _broadcast_threshold(spark) -> int | None:
    """autoBroadcastJoinThreshold in bytes; None when disabled (-1)."""
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        thr = int(
            spark.sparkContext._jvm.org.apache.spark.util.Utils.byteStringAsBytes(raw)
        )
        return thr if thr > 0 else None
    except Exception:
        return None


def _normalize_n_hint(n_hint) -> dict:
    """Port of normalize_n_hint (R/bloomjoin.R:192-221)."""
    if n_hint is None:
        return {}
    if isinstance(n_hint, (int, float)):
        return {"x": int(n_hint), "y": int(n_hint)}
    if isinstance(n_hint, dict):
        out = {}
        for k, v in n_hint.items():
            if k not in ("x", "y", "probe"):
                raise ValueError(f"n_hint keys must be 'x'/'y'/'probe', got {k!r}")
            out[k] = int(v)
        return out
    raise ValueError(f"unsupported n_hint: {n_hint!r}")
