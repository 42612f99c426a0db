"""Benchmark decontamination: flag / drop training documents that share
any token n-gram with an evaluation ("benchmark") set.

This is the bloomjoin prefilter thesis (reference ``R/bloomjoin.R`` —
filter-before-shuffle semi-join on high-selectivity keys) applied to
the n-gram membership problem used by LLM training pipelines (GPT-3
appendix C / PaLM-style 8-gram overlap decontamination):

1. the benchmark side's distinct n-grams are small — build a Bloom
   filter over their 64-bit hashes, sized like ``bloom_join``'s build
   side (``_size_build``) from the exact count of the job that
   materializes them (``Size.observed``): a small set comes back as
   hashes in one bounded collect and is built on the driver, a larger
   one by one treeAggregate / one JVM ``stat.bloomFilter`` job — never
   collected as raw n-grams;
2. each corpus document computes ONE window-hash array over its
   tokens (``ngram_hashes_col``: a single ``transform`` whose element
   is the variadic ``xxhash64(arr[i..i+n−1])`` — no gram arrays, no
   explode) and is probed with a short-circuiting per-document ANY, so
   the probe stage sees |corpus| rows, not |corpus|·L;
3. only candidate documents (true hits + ~L·fpp per-doc false
   positives — hence the 1e-4 default fpp) materialize their gram
   arrays, and an EXACT join on n-gram equality removes every false
   positive — the Bloom fpr only costs wasted verify work, never wrong
   answers (same contract as ``bloom_join``).

At 100 TB nothing corpus-sized is ever exploded or shuffled: the probe
is a row-local filter inside the scan stage, and the verify join's
corpus side is proportional to true contamination.  When the benchmark
n-gram set fits under the broadcast threshold the verify join
broadcasts; when it does not (a large eval suite), the prefilter is
exactly what keeps that shuffle contamination-sized.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.sizing import Size
from .bloom_join import _materialize, _size_build, membership_filter
from .text import words_col  # canonical tokenization (re-exported)

_NG = "__bj_ng"

__all__ = [
    "ngram_hashes_col",
    "ngrams_col",
    "words_col",
    "contaminated_docs",
    "contaminated_docs_many",
    "decontaminate",
    "decontaminate_many",
    "DecontamReport",
]


def ngrams_col(arr: Column, n: int) -> Column:
    """All contiguous ``n``-grams of an array column, as
    ``array<array<T>>`` — pure JVM higher-order functions
    (``sequence`` → ``transform`` → ``slice``), inside whole-stage
    codegen.  Documents shorter than ``n`` yield an empty array; a NULL
    input yields an empty array."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # sequence end is clamped to >= 1 so short docs don't build a
    # descending sequence; the size filter then drops the partial slice
    idx = F.sequence(F.lit(1), F.greatest(F.size(arr) - F.lit(n - 1), F.lit(1)))
    return F.filter(
        F.transform(idx, lambda i: F.slice(arr, i, n)),
        lambda g: F.size(g) == n,
    )


def ngram_hashes_col(arr: Column, n: int) -> Column:
    """64-bit hash of every contiguous ``n``-gram of an array column,
    as ``array<bigint>`` — WITHOUT materializing the gram arrays: ONE
    ``transform`` over start positions whose element is the variadic
    ``xxhash64(arr[i], …, arr[i+n−1])`` (n ``element_at`` lookups, one
    hash call, no intermediate arrays).  Measured on the 2M-row bench
    table this is ~2.4× faster than an n−1-step ``zip_with`` rolling
    ladder and ~9× faster than hashing materialized ``slice`` grams,
    and grows sub-linearly with n (n=13 costs ~1.2× n=8).

    The hash at position *i* depends only on the n values and their
    types, so it is comparable across documents and across sides —
    build and probe must both use this function (the domain is NOT
    ``xxhash64(gram_array)``).  Short/NULL docs yield an empty array.

    Pass a column whose value is bound once, not a compound
    expression: the lambda body references ``arr`` n times per element,
    and a compound expression would be re-evaluated each time (O(L²)
    for a ``split``).  A selected attribute is not enough under a
    filter, which pushdown rewrites back to the expression;
    ``contaminated_docs`` binds its tokens to a lambda variable
    (``_probe_docs``) for exactly this reason."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n > 63:
        raise ValueError(f"n must be <= 63 (null-bitmask width), got {n}")
    m = F.size(arr) - F.lit(n - 1)

    # xxhash64 SKIPS null arguments, so windows differing only in null
    # placement would collide deterministically ([null,a,b] == [a,null,b]
    # == [a,b]+null-elsewhere).  Every window therefore hashes with a
    # trailing null-bitmask argument: a constant 0 on the no-null fast
    # path (same domain, negligible cost), the real per-window mask on
    # rows that contain a null — only those pay the 2× element lookups.
    # the mask lane is ALWAYS bigint: xxhash64 hashes int and bigint
    # values differently, so a type flip between the two paths (or
    # between n ≤ 31 and n > 31, where the bit constants leave int32
    # range) would silently split the hash domain
    def window(i: Column) -> Column:
        return F.xxhash64(
            *[F.element_at(arr, i + j) for j in range(n)],
            F.lit(0).cast("bigint"),
        )

    def window_nullsafe(i: Column) -> Column:
        mask = F.lit(0).cast("bigint")
        for j in range(n):
            mask = mask + F.when(
                F.element_at(arr, i + j).isNull(), F.lit(1 << j).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        return F.xxhash64(*[F.element_at(arr, i + j) for j in range(n)], mask)

    seq = F.sequence(F.lit(1), F.greatest(m, F.lit(1)))
    has_null = F.exists(arr, lambda x: x.isNull())
    return F.when(m < 1, F.array().cast("array<bigint>")).otherwise(
        F.when(has_null, F.transform(seq, window_nullsafe)).otherwise(
            F.transform(seq, window)
        )
    )


@dataclass
class DecontamReport:
    """What the decontamination pass decided and measured."""

    n: int = 0
    engine: str = ""
    n_bench_ngrams: int = 0
    filter_bits: int = 0
    #: why auto/native dispatch degraded to the sketch engine (None if
    #: the native path was taken or never attempted) — same observable
    #: contract as BloomJoinReport.engine_fallback_reason (VERDICT r4 #3)
    engine_fallback_reason: str | None = None
    notes: list[str] = field(default_factory=list)


def _resolve_col(df: DataFrame, col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _grams(bench: DataFrame, tokens: Column | str, n: int) -> DataFrame:
    """The distinct token ``n``-grams of ``bench``, one per ``_NG`` row."""
    grams = ngrams_col(_resolve_col(bench, tokens), n)
    return bench.select(F.explode(grams).alias(_NG)).distinct()


def _probe_docs(mf, n: int) -> Column:
    """Per-document ANY of ``mf`` over the ``n``-gram window hashes of
    ``__bj_toks``.  Filter pushdown substitutes the token column's
    expression for the attribute, so the codegen probe binds the tokens
    ONCE to a lambda variable: over the bare column, every window of
    ``ngram_hashes_col``'s lambda would re-evaluate it (a ``words_col``
    text re-split n times per window).  The pandas probe takes the bare
    column: Spark leaves a Python UDF whose argument nests lambdas over
    a lambda variable unextracted, and the task fails."""
    toks = F.col("__bj_toks")
    if mf.codegen:
        pred = mf.any_in(F.transform(F.array(toks), lambda t: ngram_hashes_col(t, n))[0])
        if mf.codegen:  # no private-API drift while building it
            return pred
    return mf.any_in(ngram_hashes_col(toks, n))


def _flagged(corpus, ccol, id_col, grams, n_rows, n_distinct, n, fpp, engine, report,
             empty_note, *by) -> DataFrame:
    """``(id_col, *by, n_hits)`` of the ``corpus`` documents sharing an
    ``n``-gram with ``grams`` (``_NG`` and ``by`` columns, ``n_rows``
    rows holding ``n_distinct`` grams, counted by the job that
    materialized it): the one build, probe and verify path of both
    decontam operators."""
    if n_distinct == 0:
        report.engine = "none"
        report.notes.append(empty_note)
        return corpus.select(F.col(id_col), *[F.lit("").alias(c) for c in by],
                             F.lit(0).cast("bigint").alias("n_hits")).where(F.lit(False))
    # the ladder hash of a single n-gram array == the doc-ladder hash
    # at that gram's position, so the build side hashes its (distinct,
    # small) gram set while the corpus never materializes a gram
    keyed, _, _, _, small = _size_build(grams.select(
        F.element_at(ngram_hashes_col(F.col(_NG), n), 1).alias("__bj_key64")
    ), Size.observed(n_rows), n_hint=n_distinct)

    # corpus side: ONE rolling-hash ladder per document (O(n·L) long
    # ops, zero gram-array allocations), probed per document with a
    # short-circuiting ANY — no explode, so the row count through the
    # probe stage is |corpus|, not |corpus|·L.  Only id + tokens are
    # selected, so column pruning still reaches parquet.
    base = corpus.select(F.col(id_col), ccol.alias("__bj_toks"))
    mf = membership_filter(keyed, n_distinct, fpp, engine, report, hashes=small)

    # candidate docs ≈ contaminated + per-DOC false positives (each doc
    # probes ~L grams, so doc-level fp ≈ L·fpp — hence the low default
    # fpp); only candidates materialize their gram arrays for the EXACT
    # verify join, so the output has no false positives at all and the
    # verify cost is proportional to true contamination
    hits = base.where(_probe_docs(mf, n)).select(
        F.col(id_col), F.explode(ngrams_col(F.col("__bj_toks"), n)).alias(_NG)
    ).join(grams, on=_NG, how="inner")
    return hits.groupBy(id_col, *by).agg(F.count_distinct(_NG).alias("n_hits"))


def contaminated_docs(
    corpus: DataFrame,
    bench: DataFrame,
    *,
    n: int = 8,
    corpus_tokens: Column | str = "tokens",
    bench_tokens: Column | str | None = None,
    id_col: str = "doc_id",
    fpp: float = 1e-4,
    engine: str = "auto",
    return_report: bool = False,
):
    """Docs of ``corpus`` sharing ≥1 token ``n``-gram with ``bench``.

    Returns a DataFrame ``(id_col, n_hits)`` where ``n_hits`` is the
    number of DISTINCT benchmark n-grams found in the document —
    EXACT output (Bloom false positives are removed by the verify
    join), deterministic, no sampling.

    ``corpus_tokens`` / ``bench_tokens`` may be a column name or an
    arbitrary Column expression producing an array (e.g.
    ``words_col(F.col("text"))`` for word-level n-grams over raw text).
    ``engine``: ``'native'`` builds the filter in Spark
    (``stat.bloomFilter``), ``'bloom'`` as mergeable per-partition
    BloomSketch partials, ``'auto'`` is native, falling back to the
    sketch engine above the plan-literal cap or on private-API drift —
    the dispatch ``bloom_join`` uses (``bloom_join.membership_filter``).
    A small n-gram set is built on the driver under either engine.
    Under either engine a filter under the cap probes each document as a
    codegen ``exists(hashes, might_contain)`` with no Python stage; only
    a larger one takes the broadcast pandas probe.
    """
    if engine not in ("auto", "native", "bloom"):
        raise ValueError(f"unknown engine {engine!r}")
    ccol = _resolve_col(corpus, corpus_tokens)
    report = DecontamReport(n=n)

    # benchmark n-gram set: distinct, consumed twice (the filter build,
    # the verify join) → one materialization point, whose job also
    # counts it exactly
    bench_tokens = corpus_tokens if bench_tokens is None else bench_tokens
    bench_ngs, counts = _materialize(_grams(bench, bench_tokens, n), F.count(F.lit(1)).alias("n"))
    n_bench = int(counts["n"])
    report.n_bench_ngrams = n_bench
    out = _flagged(corpus, ccol, id_col, bench_ngs, n_bench, n_bench, n, fpp, engine,
                   report, "benchmark side has no n-grams; nothing to flag")
    return (out, report) if return_report else out


def contaminated_docs_many(
    corpus: DataFrame,
    benches: "dict[str, DataFrame]",
    *,
    n: int = 8,
    corpus_tokens: Column | str = "tokens",
    bench_tokens: Column | str | None = None,
    id_col: str = "doc_id",
    suite_col: str = "suite",
    fpp: float = 1e-4,
    engine: str = "auto",
    return_report: bool = False,
):
    """Per-suite contamination attribution from ONE corpus scan:
    ``(id_col, suite_col, n_hits)`` for every (document, eval suite)
    pair sharing ≥1 token ``n``-gram — EXACT output per suite,
    identical to running :func:`contaminated_docs` once per suite.

    Why it exists: production pipelines decontaminate against DOZENS of
    eval suites, and at 100 TB the corpus scan dominates — N separate
    ``contaminated_docs`` calls pay N full scans + N ladder-hash
    evaluations.  Here ONE Bloom filter is built over the UNION of all
    suites' distinct n-grams, the corpus is scanned and ladder-hashed
    ONCE (row count through the probe stage stays |corpus|, no
    explode), and only the candidate docs — true contamination plus
    doc-level false positives ≈ L·fpp — materialize their gram arrays
    for the verify join against the (suite, gram) table, which assigns
    per-suite attribution exactly.  The union filter makes each suite's
    candidate set a SUPERSET of its single-suite candidates; the verify
    join removes every false positive, so per-suite output is
    unchanged.  All suites share one ``n`` (one hash ladder per doc is
    the whole point); run suites with different ``n`` separately.

    ``benches`` maps suite label → DataFrame; labels land in
    ``suite_col``.  Per-suite distinct-gram counts are recorded on
    ``report.notes``."""
    if engine not in ("auto", "native", "bloom"):
        raise ValueError(f"unknown engine {engine!r}")
    if not benches:
        raise ValueError("contaminated_docs_many: benches is empty")
    if suite_col == id_col or suite_col in ("n_hits", _NG):
        raise ValueError(
            f"contaminated_docs_many: suite_col {suite_col!r} collides "
            "with an output column"
        )
    ccol = _resolve_col(corpus, corpus_tokens)
    report = DecontamReport(n=n)

    tagged = None
    bench_tokens = corpus_tokens if bench_tokens is None else bench_tokens
    for name, bench in benches.items():
        t = _grams(bench, bench_tokens, n).withColumn(suite_col, F.lit(str(name)))
        tagged = t if tagged is None else tagged.unionByName(t)
    # one materialization point: the (suite, gram) table feeds the
    # suite/union counts, the filter build, and the verify join —
    # without it every branch re-explodes every suite
    tagged = tagged.localCheckpoint(eager=False)
    # ONE rollup job yields the per-suite sizes AND the exact
    # distinct-union count (the NULL-suite total row; suite labels are
    # never NULL).  No union gram frame: a duplicate insert is a no-op
    # for a Bloom filter, so the build runs over the tagged table.
    count_rows = (
        tagged.rollup(suite_col)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct(_NG).alias("cnt_d"),
        )
        .collect()  # bounded: one row per suite + one total row
    )
    suite_sizes = {
        r[suite_col]: r["cnt"] for r in count_rows if r[suite_col] is not None
    }
    for name in benches:
        report.notes.append(
            f"suite {name!r}: {suite_sizes.get(str(name), 0)} distinct n-grams"
        )
    n_union = next(
        (int(r["cnt_d"]) for r in count_rows if r[suite_col] is None), 0
    )
    report.n_bench_ngrams = n_union
    out = _flagged(corpus, ccol, id_col, tagged, sum(suite_sizes.values()), n_union, n,
                   fpp, engine, report, "no suite has any n-grams; nothing to flag", suite_col)
    return (out, report) if return_report else out


def decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    *,
    n: int = 8,
    corpus_tokens: Column | str = "tokens",
    bench_tokens: Column | str | None = None,
    id_col: str = "doc_id",
    fpp: float = 1e-4,
    engine: str = "auto",
    return_report: bool = False,
):
    """``corpus`` with every contaminated document removed (anti-join
    on the flagged id set — the flagged side is proportional to true
    contamination, so Spark broadcasts it in the common case).  With
    ``return_report`` returns ``(df, DecontamReport)`` — the same
    report `contaminated_docs` fills (engine choice, filter size,
    ``engine_fallback_reason``)."""
    flagged, report = contaminated_docs(
        corpus,
        bench,
        n=n,
        corpus_tokens=corpus_tokens,
        bench_tokens=bench_tokens,
        id_col=id_col,
        fpp=fpp,
        engine=engine,
        return_report=True,
    )
    out = corpus.join(flagged.select(id_col), on=id_col, how="left_anti")
    return (out, report) if return_report else out


def decontaminate_many(
    corpus: DataFrame,
    benches: "dict[str, DataFrame]",
    *,
    n: int = 8,
    corpus_tokens: Column | str = "tokens",
    bench_tokens: Column | str | None = None,
    id_col: str = "doc_id",
    suite_col: str = "suite",
    fpp: float = 1e-4,
    engine: str = "auto",
    return_report: bool = False,
):
    """``corpus`` with every document contaminated by ANY suite removed
    — the multi-suite analog of :func:`decontaminate`, sharing its
    anti-join shape (the flagged id set is proportional to true
    contamination, so Spark broadcasts it in the common case) and
    :func:`contaminated_docs_many`'s one-scan plan.  With
    ``return_report`` returns ``(df, DecontamReport)`` carrying the
    union filter stats and per-suite n-gram counts on ``notes``."""
    flagged, report = contaminated_docs_many(
        corpus,
        benches,
        n=n,
        corpus_tokens=corpus_tokens,
        bench_tokens=bench_tokens,
        id_col=id_col,
        suite_col=suite_col,
        fpp=fpp,
        engine=engine,
        return_report=True,
    )
    out = corpus.join(
        flagged.select(id_col).distinct(), on=id_col, how="left_anti"
    )
    return (out, report) if return_report else out
