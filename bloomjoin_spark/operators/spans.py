"""Cross-document duplicate token-SPAN removal — the exact-substring
dedup tier (Lee et al. 2022, *Deduplicating Training Data Makes
Language Models Better*): every window of ``n`` consecutive tokens that
also appears in at least ``min_docs`` DISTINCT documents is removed
from the token stream, overlapping windows merged into maximal spans,
the surrounding tokens kept in order.

This completes the dedup family a training pipeline needs: document
level (``exact_dedup`` / ``minhash_dedup`` / ``simhash_dedup`` /
``ngram_jaccard_dedup`` / ``embedding_dedup``) removes whole near-twin
documents; line level (``remove_boilerplate_lines``) removes shared
headers/footers; THIS operator removes verbatim passages embedded in
otherwise-distinct documents (quotes, licence blocks, syndicated
paragraphs) — the case the paper shows document-level dedup misses.

Scale shape (what must survive 100 TB), reusing the decontamination
kernel (``decontam.ngram_hashes_col`` — one rolling ``xxhash64``
ladder per document, no gram arrays, no corpus explode):

1. **count** — per-document DISTINCT window hashes explode and shuffle
   as **(hash, doc)** 16-byte pairs into one partial-aggregated count
   per hash (the row shape of ``remove_boilerplate_lines``' line
   count); hashes in ``>= min_docs`` docs form the duplicated set *D*.
   This is the one corpus-proportional shuffle, and it moves hashes,
   never tokens.
2. **prefilter** — a Bloom filter over *D* (``membership_filter``:
   built in Spark, one JVM job) probes each document with a
   short-circuiting per-document ANY — a codegen
   ``exists(hashes, might_contain)`` under the plan-literal cap, no
   Python stage — so clean documents never explode positions.  The
   filter build is gated on its own size: if *D* is so large the filter
   would not broadcast (``max_filter_bytes``), the prefilter is skipped
   and every document takes the exact path — degraded, never wrong, and
   never a driver/executor OOM.
3. **locate** — only candidate documents ``posexplode`` their hash
   ladder and semi-join *D* on the hash: the located (doc, start)
   volume is proportional to TRUE duplicated positions (+ the Bloom
   fp dust, removed here by the exact hash join).
4. **verify** (default) — located positions materialize their actual
   ``n``-token gram (``slice``) and re-count DISTINCT docs by GRAM
   equality, so a 64-bit hash collision (two different grams sharing a
   hash, ≈2⁻⁶⁴ per pair) can never delete an innocent span.  Cost is
   proportional to duplicated volume, not corpus size — the same
   verify-only-candidates contract as ``decontam``.  ``verify="hash"``
   skips this (the ``remove_boilerplate_lines`` stance: 2⁻⁶⁴ is acceptable
   for dedup semantics) and saves the gram shuffle.
5. **rewrite** — verified starts gather per doc (``collect_set`` →
   ``sort_array``), join back, and the token array is rebuilt in ONE
   row-local codegen expression: merge starts into maximal disjoint
   intervals (``aggregate``), then keep the gap slices between them
   (``aggregate`` + ``slice`` + ``flatten``).  No Python, no second
   corpus shuffle beyond the join of per-doc start lists.

Within-document repetition deliberately does NOT count toward
``min_docs`` (stage 1 distincts per document): a doc repeating its own
chorus is ``add_repetition_stats`` / ``quality_filter`` territory; this
operator is strictly cross-document.  Documents shorter than ``n``
pass through untouched.  Rows are never dropped — only token spans.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sketches.bloom import bloom_sizing
from .bloom_join import _materialize, membership_filter
from .decontam import ngram_hashes_col

__all__ = [
    "SpanDedupReport",
    "duplicate_span_starts",
    "remove_duplicate_spans",
]

_TOK = "__sp_toks"
_H = "__sp_h"
_HARR = "__sp_harr"
_POS0 = "__sp_pos0"
_START = "__sp_start"
_GRAM = "__sp_gram"
_STARTS = "__sp_starts"
_RESERVED = (_TOK, _H, _HARR, _POS0, _START, _GRAM, _STARTS, "__sp_nd", "__sp_iv")


@dataclass
class SpanDedupReport:
    """What the span-dedup pass decided (filled when requested)."""

    n: int = 0
    min_docs: int = 2
    verify: str = "exact"
    #: distinct window hashes occurring in >= min_docs documents
    n_dup_hashes: int = 0
    #: "bloom" when the candidate prefilter ran, "none" when the
    #: filter-size gate (max_filter_bytes) disabled it or D was empty
    prefilter: str = "none"
    filter_bits: int = 0
    notes: list[str] = field(default_factory=list)


def _resolve(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _check_columns(df: DataFrame) -> None:
    clash = [c for c in df.columns if c in _RESERVED]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with span-dedup internals; rename them"
        )


def duplicate_span_starts(
    df: DataFrame,
    *,
    n: int = 50,
    tokens_col: Column | str = "tokens",
    id_col: str = "doc_id",
    min_docs: int = 2,
    fpp: float = 1e-3,
    max_filter_bytes: int = 256 << 20,
    verify: str = "exact",
    return_report: bool = False,
):
    """1-based start positions of every duplicated ``n``-token window,
    one row per document that has any: ``(id_col, starts:array<int>)``
    with ``starts`` sorted ascending and distinct.

    ``tokens_col`` may be a column name or an expression producing an
    array (e.g. ``words_col(F.col("text"))`` for word-level spans over
    raw text).  ``verify``: ``"exact"`` re-checks located positions by
    gram equality (hash collisions can never remove an innocent span);
    ``"hash"`` trusts the 64-bit window hash.  See the module docstring
    for the full scale shape.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 2:
        raise ValueError(
            f"min_docs must be >= 2 (cross-document dedup), got {min_docs}"
        )
    if verify not in ("exact", "hash"):
        raise ValueError(f"verify must be 'exact' or 'hash', got {verify!r}")
    _check_columns(df)
    report = SpanDedupReport(n=n, min_docs=min_docs, verify=verify)

    # materialize the token column as an ATTRIBUTE before the hash
    # ladder references it n times per element (decontam's O(L^2) note)
    base = df.select(F.col(id_col), _resolve(tokens_col).alias(_TOK))
    ladder = ngram_hashes_col(F.col(_TOK), n)

    # the per-doc hash ladder is consumed THREE times (dup-set count,
    # candidate probe, posexplode locate).  Recomputing it per consumer
    # is not just 3 scans: when `tokens_col` is itself an expression
    # (`words_col(text)` — the bench/oracle shape) the optimizer's
    # filter-pushdown / Python-input extraction INLINE that expression
    # into every `element_at` of the ladder lambda, re-splitting the
    # text once per window element — O(L²) per doc, measured 25× slower
    # than one codegen evaluation (plans/r06/span_dedup_*).  One lazy
    # localCheckpoint pins the ladder as a stored ATTRIBUTE: 8 bytes per
    # token position (the metadata-not-payload shape of guide §8; the
    # token text itself is never duplicated), materialized by the
    # stage-1 job below, dropped with the session.
    lad = base.select(F.col(id_col), ladder.alias(_HARR)).localCheckpoint(
        eager=False
    )
    h_arr = F.col(_HARR)

    # 1. duplicated-hash set D: distinct-per-doc window hashes shuffle
    #    as (hash, doc) pairs; count(*) == distinct-doc count because
    #    array_distinct leaves one row per (doc, hash); the job that
    #    checkpoints D also counts it
    dup, counts = _materialize(
        lad.select(F.col(id_col), F.explode(F.array_distinct(h_arr)).alias(_H))
        .groupBy(_H)
        .agg(F.count(F.lit(1)).alias("__sp_nd"))
        .where(F.col("__sp_nd") >= min_docs)
        .select(_H),
        F.count(F.lit(1)).alias("n"),
    )
    n_dup = counts["n"]
    report.n_dup_hashes = n_dup
    empty = base.select(
        F.col(id_col), F.array().cast("array<int>").alias("starts")
    ).where(F.lit(False))
    if n_dup == 0:
        report.notes.append("no window occurs in >= min_docs documents")
        return (empty, report) if return_report else empty

    # 2. candidate-document prefilter, gated on its own broadcast size
    m_bits, _k = bloom_sizing(n_dup, fpp)
    cand = lad
    if m_bits // 8 <= max_filter_bytes:
        mf = membership_filter(
            dup.select(F.col(_H).alias("__bj_key64")), n_dup, fpp, "auto", None
        )
        cand = lad.where(mf.any_in(h_arr))
        report.prefilter = "bloom"
        report.filter_bits = mf.bits
    else:
        report.notes.append(
            f"duplicated-hash set needs a {m_bits >> 23} MiB filter, above "
            f"max_filter_bytes={max_filter_bytes >> 20} MiB; prefilter skipped "
            "(every document takes the exact locate path)"
        )

    # 3. locate: candidates posexplode their ladder (0-based, 12-byte
    #    (id, pos, hash) rows — the token arrays do NOT ride along),
    #    exact hash semi-join against D removes the Bloom false
    #    positives, then starts gather per document
    per_doc = (
        cand.select(F.col(id_col), F.posexplode(h_arr).alias(_POS0, _H))
        .join(dup, on=_H, how="left_semi")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_set((F.col(_POS0) + F.lit(1)).cast("int"))
            ).alias("starts")
        )
    )
    if verify == "hash":
        return (per_doc, report) if return_report else per_doc

    # 4. verify by gram equality: a hash collision merging two distinct
    #    grams' doc sets can never push an innocent gram over min_docs.
    #    Token arrays join back ONCE per located document, and only the
    #    located positions materialize a gram — cost ∝ duplicated volume.
    grams = base.join(per_doc, on=id_col, how="inner").select(
        F.col(id_col),
        F.inline(
            F.transform(
                F.col("starts"),
                lambda s: F.struct(
                    s.alias(_START), F.slice(F.col(_TOK), s, n).alias(_GRAM)
                ),
            )
        ),
    )
    good = (
        grams.groupBy(_GRAM)
        .agg(F.count_distinct(F.col(id_col)).alias("__sp_nd"))
        .where(F.col("__sp_nd") >= min_docs)
        .select(_GRAM)
    )
    out = (
        grams.join(good, on=_GRAM, how="left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set(_START)).alias("starts"))
    )
    return (out, report) if return_report else out


def _merged_intervals(starts: Column, n: int) -> Column:
    """Sorted distinct 1-based starts -> maximal disjoint closed
    intervals ``array<struct<lo:int,hi:int>>`` covering every window
    ``[s, s+n-1]`` (touching/overlapping windows merge)."""
    iv_t = "array<struct<lo:int,hi:int>>"

    def step(acc: Column, s: Column) -> Column:
        last = F.element_at(acc, -1)
        extend = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["lo"].alias("lo"),
                    (s + F.lit(n - 1)).cast("int").alias("hi"),
                )
            ),
        )
        append = F.concat(
            acc,
            F.array(
                F.struct(
                    s.cast("int").alias("lo"),
                    (s + F.lit(n - 1)).cast("int").alias("hi"),
                )
            ),
        )
        return F.when(
            (F.size(acc) > 0) & (s <= last["hi"] + F.lit(1)), extend
        ).otherwise(append)

    return F.aggregate(starts, F.array().cast(iv_t), step)


def remove_duplicate_spans(
    df: DataFrame,
    *,
    n: int = 50,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    min_docs: int = 2,
    fpp: float = 1e-3,
    max_filter_bytes: int = 256 << 20,
    verify: str = "exact",
    out_col: str | None = None,
    counts_col: str | None = "n_dup_tokens",
    return_report: bool = False,
):
    """``df`` with every duplicated ``n``-token span removed from
    ``tokens_col`` (written to ``out_col``, default: in place), plus a
    ``counts_col`` bigint column with the number of tokens removed
    (0 for untouched docs; pass ``counts_col=None`` to omit).

    Rows are never dropped and token ORDER is preserved — only the
    covered positions disappear.  ``id_col`` must be row-unique (the
    located starts join back on it); run ``exact_dedup`` first if it
    is not.  ``tokens_col`` must be a real column here (the rewrite
    replaces it); use :func:`duplicate_span_starts` directly for
    expression inputs.
    """
    if tokens_col not in df.columns:
        raise ValueError(
            f"tokens_col {tokens_col!r} must be a column of df for the rewrite; "
            "use duplicate_span_starts for expression inputs"
        )
    if counts_col and (counts_col in df.columns or counts_col == out_col):
        raise ValueError(
            f"counts_col {counts_col!r} already exists (or clashes with "
            "out_col) — pass a fresh name or counts_col=None (a second "
            "pass over this operator's own output hits this)"
        )
    out_col = out_col or tokens_col
    starts, report = duplicate_span_starts(
        df,
        n=n,
        tokens_col=tokens_col,
        id_col=id_col,
        min_docs=min_docs,
        fpp=fpp,
        max_filter_bytes=max_filter_bytes,
        verify=verify,
        return_report=True,
    )
    joined = df.join(
        starts.withColumnRenamed("starts", _STARTS), on=id_col, how="left"
    )

    toks = F.col(tokens_col)
    # stage the merged intervals as an ATTRIBUTE: `cleaned` and
    # `n_removed` below both consume them, and embedding the interval
    # aggregate twice doubles the (already large) expression tree the
    # optimizer must analyze — measured ~1.5 s of pure planning per
    # call at round start (plans/r06/span_dedup_*)
    joined = joined.select(
        *df.columns,
        _merged_intervals(
            F.coalesce(F.col(_STARTS), F.array().cast("array<int>")), n
        ).alias("__sp_iv"),
    )
    iv = F.col("__sp_iv")

    # keep the gap slices BETWEEN intervals plus the tail after the
    # last one — one codegen expression, no per-position scan.  zero
    # element [[]] (an empty slice of the real token array, so the
    # element type always matches) flattens away.
    def gap_step(acc: Column, intr: Column) -> Column:
        gap_len = intr["lo"] - acc["prev"] - F.lit(1)
        piece = F.when(
            gap_len > 0, F.slice(toks, acc["prev"] + F.lit(1), gap_len)
        ).otherwise(F.slice(toks, 1, 0))
        return F.struct(
            intr["hi"].alias("prev"),
            F.concat(acc["parts"], F.array(piece)).alias("parts"),
        )

    def gap_finish(acc: Column) -> Column:
        tail_len = F.size(toks) - acc["prev"]
        tail = F.when(
            tail_len > 0, F.slice(toks, acc["prev"] + F.lit(1), tail_len)
        ).otherwise(F.slice(toks, 1, 0))
        return F.flatten(F.concat(acc["parts"], F.array(tail)))

    zero = F.struct(
        F.lit(0).cast("int").alias("prev"),
        F.array(F.slice(toks, 1, 0)).alias("parts"),
    )
    cleaned = F.aggregate(iv, zero, gap_step, gap_finish)
    n_removed = F.aggregate(
        iv,
        F.lit(0).cast("bigint"),
        lambda acc, intr: acc + (intr["hi"] - intr["lo"] + F.lit(1)).cast("bigint"),
    )

    cols = [cleaned.alias(c) if c == out_col else F.col(c) for c in df.columns]
    if out_col not in df.columns:
        cols.append(cleaned.alias(out_col))
    if counts_col:
        cols.append(n_removed.alias(counts_col))
    out = joined.select(*cols)
    return (out, report) if return_report else out
