"""One-call training-corpus preparation: the composed LLM-data pipeline.

Every stage of a production pretraining-data pipeline exists in this
package as an individually-oracled operator; ``prepare_corpus`` is the
integration layer that chains them behind one configurable call with a
FIXED stage order — the order the public pipelines (C4, CCNet, Gopher,
RefinedWeb, Dolma) converged on.  These are the 17 stage names that
``PreparedCorpus.stages`` reports, in execution order:

    incremental_dedup (vs a prior corpus snapshot) → exact_dedup →
    minhash_dedup → simhash_dedup →
    ngram_jaccard_dedup → containment_dedup → embedding_dedup →
    decontaminate → dedup_lines_within →
    remove_boilerplate_lines → quality_filter → scrub_patterns →
    group_quota → weighted_mixture → hash_split →
    encode_documents → pack_sequences

(minhash and the exact Jaccard tier are independent opt-ins; enabling
both runs the cheap approximate pass first, then the exact join
guarantees — with ``max_shingle_df=None`` — that nothing above its
threshold survives; the tier's default bucket cap trades that
guarantee for bounded degenerate-bucket cost, warning when it bites)

Why this order is a contract, not a preference:

- dedup BEFORE decontam/boilerplate: duplicates inflate line document
  frequencies and contamination counts, and every later stage pays to
  process rows dedup would have dropped;
- boilerplate BEFORE quality: quality rules must judge the text a
  model would train on — a doc that is all cookie-banner passes word
  count only until the banner is removed;
- quality BEFORE scrub: rules see the original spans (a URL-soup doc
  should fail on its real mean word length, not on ``<URL>`` masks),
  while the trained-on text has the masks;
- mixture BEFORE split: the held-out split is drawn from the final
  training mixture, so val/test mirror what training sees;
- pack LAST and per-split: packs must never mix splits.

The reference's analog is ``bloom_join`` itself being the one-call
composition of its prefilter pipeline (R/bloomjoin.R:62-124: hash →
size → build → probe → join behind one call); this module plays that
role for the corpus pipeline.

Scale shape: the composition adds NOTHING to the stages' own costs —
each stage is lazily chained DataFrame-on-DataFrame, Catalyst fuses
the stateless stages (quality, scrub, mixture, split are one codegen
map over the post-boilerplate frame), and the shuffling stages keep
their documented plans.  ``prepare_corpus`` itself triggers no job
beyond what enabled stages require: the near-dup tiers (minhash /
jaccard) run their bucket-guard aggregates and eager pair
materialization at construction time (bounded by the pair set, never
the corpus).
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .boilerplate import remove_boilerplate_lines
from .decontam import decontaminate, decontaminate_many, words_col
from .dedup import (
    containment_dedup,
    exact_dedup,
    incremental_dedup,
    minhash_dedup,
    ngram_jaccard_dedup,
    simhash_dedup,
)
from .sampling import (
    hash_split,
    pack_sequences,
    sample_exact_k_per_group,
    topk_per_group,
    weighted_mixture,
)
from .text import dedup_lines_within, quality_filter, scrub_patterns

__all__ = ["prepare_corpus", "PreparedCorpus"]


@dataclass(frozen=True)
class PreparedCorpus:
    """Result of ``prepare_corpus``.

    - ``docs``: the final document-level frame — input columns
      (text transformed in place) plus the split label column when the
      split stage ran.  Lazy except the near-dup tiers' bounded
      construction-time jobs (see ``prepare_corpus``).
    - ``packs``: the packed-sequence frame (``pack_sequences`` output
      schema) over the configured split, or None when packing was not
      requested.  Lazy as well.
    - ``stages``: names of the stages that are part of the plan, in
      execution order — the audit trail of what the configuration
      actually enabled.
    - ``reports``: per-stage observability, keyed by stage name —
      bucket-cap drop stats for the near-dup tiers (empty dict = no
      drops) and the ``DecontamReport`` (engine choice +
      ``engine_fallback_reason``) for decontamination.  Warnings are
      NOT the only channel: pipelines that filter them can still
      detect recall trades and engine degradation here.
    """

    docs: DataFrame
    packs: DataFrame | None
    stages: tuple[str, ...]
    # hash=False keeps frozen-dataclass instances hashable (a dict
    # field would otherwise poison the auto-generated __hash__)
    reports: dict = field(default_factory=dict, hash=False)
    #: the vocabulary frame when the encode stage ran (built here or
    #: passed in via ``encode={"vocab": ...}``), else None
    vocab: DataFrame | None = None


def _as_kwargs(cfg, stage: str) -> dict:
    if cfg is True:
        return {}
    if isinstance(cfg, Mapping):
        return dict(cfg)
    raise TypeError(
        f"prepare_corpus: {stage} config must be True (defaults) or a "
        f"mapping of keyword overrides, got {type(cfg).__name__}"
    )


def _as_mapping(cfg, stage: str, required: str) -> dict:
    """Mapping-only configs (mixture/split/pack have a required key, so
    True-for-defaults makes no sense) — same curated error shape as
    ``_as_kwargs`` instead of an opaque ``dict(cfg)`` TypeError."""
    if not isinstance(cfg, Mapping):
        raise TypeError(
            f"prepare_corpus: {stage} config must be a mapping with at "
            f"least {required!r}, got {type(cfg).__name__}"
        )
    kw = dict(cfg)
    if required not in kw:
        raise ValueError(f"prepare_corpus: {stage} config requires {required!r}")
    return kw


def prepare_corpus(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    history: DataFrame | None = None,
    history_dedup: Mapping | None = None,
    dedup_exact: bool = True,
    minhash: Mapping | bool | None = None,
    simhash: Mapping | bool | None = None,
    jaccard: Mapping | bool | None = None,
    containment: Mapping | bool | None = None,
    embedding: Mapping | None = None,
    bench: DataFrame | Mapping | None = None,
    decontam: Mapping | None = None,
    line_dedup: Mapping | bool | None = None,
    boilerplate_min_docs: int | None = None,
    quality: Mapping | bool | None = None,
    scrub: Mapping | bool | None = None,
    quota: Mapping | None = None,
    mixture: Mapping | None = None,
    split: Mapping | None = None,
    encode: Mapping | bool | None = None,
    pack: Mapping | None = None,
) -> PreparedCorpus:
    """Run the composed corpus-preparation pipeline; stages are opted
    in per config and always execute in the fixed order the module
    docstring lists.

    Stage configs (every stage except exact dedup defaults to OFF so a
    minimal call is cheap and explicit):

    - ``history`` (+ optional ``history_dedup`` kwargs: ``fpp``,
      ``history_filter``, ``checkpoint_dir``): incremental dedup of
      the input batch against a previously-ingested corpus snapshot —
      giving ``history`` enables the stage, which runs FIRST (content
      already in the corpus should not pay for any later stage).  Pass
      ``history_filter=`` (from ``build_history_filter``, possibly
      checkpoint-resumed) so filter misses skip the exact history
      verify; without one, every batch representative is verified
      against history.  The stage also keeps only the min-id
      representative per fingerprint within the batch, so
      ``dedup_exact`` afterwards is a no-op on the same fingerprint
      domain.
    - ``dedup_exact``: bool — exact content dedup (md5 of
      lower/trim, min-id representative).
    - ``minhash``: True or kwargs for ``minhash_dedup``
      (``n``, ``num_perm``, ``bands``, ``threshold``, ...).
    - ``simhash``: True or kwargs for ``simhash_dedup``
      (``max_hamming``, ``max_bucket_size``) — the hamming-distance
      near-dup tier.
    - ``jaccard``: True or kwargs for ``ngram_jaccard_dedup`` — the
      EXACT near-dup tier; runs after minhash when both are enabled
      (minhash first removes the bulk cheaply).  The 100%-recall
      guarantee holds with ``max_shingle_df=None``; the default cap
      bounds degenerate-bucket cost instead, warning when it drops.
    - ``containment``: True or kwargs for ``containment_dedup`` — the
      ASYMMETRIC near-dup tier: drops documents threshold-contained in
      a larger document (excerpts/quotes whose symmetric Jaccard is
      near zero).  Runs after the symmetric tiers — they cheaply
      remove whole-document twins first, shrinking this tier's full
      shingle index.
    - ``embedding``: kwargs for ``embedding_dedup`` — the SEMANTIC
      near-dup tier over a vector column carried on the frame
      (``vec_col`` defaults to ``"embedding"``); requires
      ``threshold``.  Runs after the text tiers (they are cheaper per
      surviving row).
    - ``bench`` (+ optional ``decontam`` kwargs: ``n``, ``fpp``,
      ``engine``, ``corpus_tokens``, ``bench_tokens``): benchmark
      decontamination — giving ``bench`` enables the stage; token
      columns default to canonical word tokenization of ``text_col``
      on both sides (override for token-id corpora).  A MAPPING of
      suite label → DataFrame runs the one-scan multi-suite operator
      (``decontaminate_many``) with drop-if-hit-ANY semantics and
      per-suite n-gram counts on the stage report.
    - ``line_dedup``: True or kwargs for ``dedup_lines_within`` —
      within-document repeated-line removal (keep first occurrence);
      runs BEFORE the cross-document boilerplate stage so a page's
      internally-repeated banner is already collapsed when line
      document-frequencies are counted.  The pipeline drops the count
      column by default (lean schema); pass ``count_col=`` to keep it
      under that name.
    - ``boilerplate_min_docs``: int — drop lines occurring in at least
      that many distinct docs, reassemble text in place.
    - ``quality``: True or kwargs for ``quality_filter`` thresholds.
    - ``scrub``: True or kwargs for ``scrub_patterns``; the pipeline
      default is ``with_counts=False`` (the lean schema a corpus
      pipeline wants; pass ``with_counts=True`` to keep the counts).
    - ``quota``: kwargs — per-group cap BEFORE the mixture draw
      (domain caps: "at most k docs per source").  Requires
      ``group_cols`` and ``k``; with ``order_col`` (+ optional
      ``descending``, default True) keeps the best-ranked k via
      ``topk_per_group``, without it keeps a deterministic random k
      via ``sample_exact_k_per_group`` (optional ``salt``).  Both
      inherit the salted two-phase plan (optional ``salts``); the cap
      keys on the pipeline ``id_col``.
    - ``mixture``: kwargs for ``weighted_mixture`` — requires
      ``rates``; ``stratum_col`` defaults to ``"source"``.
    - ``split``: kwargs for ``hash_split`` — requires ``fractions``;
      the label column defaults to ``"split"``.
    - ``encode``: True or kwargs — tokenize the surviving corpus into
      the pre-tokenized ``(id, ..., tokens:array<int>, n_tok)`` shape
      (``operators.vocab``): vocabulary-build kwargs (``min_count``,
      ``max_size``, ``num_partitions``) OR a prebuilt ``vocab=`` frame
      (mutually exclusive), plus ``encode_documents`` kwargs
      (``drop_oov``, ``oov_id``).  Runs after the split so the label
      rides through; the built (or passed) vocabulary lands on
      ``PreparedCorpus.vocab`` for reuse on later ingests.  The text
      column is consumed by this stage.
    - ``pack``: kwargs for ``pack_sequences`` — requires
      ``max_tokens``; one of ``count_col``/``tokens_col``/``text_col``
      selects the token source (default: the encode stage's
      ``tokens`` array when encoding ran, else pipeline ``text_col``).
      ``use_split`` names the split label to pack (default
      ``"train"`` when the split stage ran — packs never mix splits);
      pass ``use_split=None`` to pack every surviving doc.

    Returns a :class:`PreparedCorpus`.  The stateless stages are fully
    lazy; the near-dup tiers (``minhash``, ``jaccard``, ``containment``) are NOT — their
    bucket-guard aggregates and eager pair materialization run Spark
    jobs at construction time (bounded by the pair set, never the
    corpus), so build the pipeline when the cluster is ready to work.
    """
    if decontam is not None and bench is None:
        raise ValueError(
            "prepare_corpus: decontam kwargs were given without a bench "
            "DataFrame — pass bench= to enable decontamination"
        )
    if history_dedup is not None and history is None:
        raise ValueError(
            "prepare_corpus: history_dedup kwargs were given without a "
            "history DataFrame — pass history= to enable incremental dedup"
        )
    stages: list[str] = []
    reports: dict = {}
    out = df

    if history is not None:
        kw = _as_kwargs(history_dedup or {}, "history_dedup")
        out = incremental_dedup(
            out, history, text_col=text_col, id_col=id_col, **kw
        )
        stages.append("incremental_dedup")

    if dedup_exact:
        out = exact_dedup(out, text_col=text_col, id_col=id_col)
        stages.append("exact_dedup")

    def _capped_tier(stage: str, kw: dict, run) -> None:
        """Shared wiring for the capped near-dup tiers: thread a
        dropped_report dict through (respecting a caller-supplied one)
        and land it on ``reports`` keyed by stage."""
        nonlocal out
        drop_stats = kw.setdefault("dropped_report", {})
        out = run(kw)
        stages.append(stage)
        reports[stage] = drop_stats

    if minhash is not None and minhash is not False:
        _capped_tier(
            "minhash_dedup", _as_kwargs(minhash, "minhash"),
            lambda kw: minhash_dedup(out, text_col, id_col, **kw),
        )

    if simhash is not None and simhash is not False:
        _capped_tier(
            "simhash_dedup", _as_kwargs(simhash, "simhash"),
            lambda kw: simhash_dedup(out, text_col, id_col, **kw),
        )

    if jaccard is not None and jaccard is not False:
        _capped_tier(
            "ngram_jaccard_dedup", _as_kwargs(jaccard, "jaccard"),
            lambda kw: ngram_jaccard_dedup(out, text_col, id_col, **kw),
        )

    if containment is not None and containment is not False:
        _capped_tier(
            "containment_dedup", _as_kwargs(containment, "containment"),
            lambda kw: containment_dedup(out, text_col, id_col, **kw),
        )

    if embedding is not None:
        from .similarity import embedding_dedup

        kw = _as_mapping(embedding, "embedding", "threshold")
        kw.setdefault("id_col", id_col)
        _capped_tier("embedding_dedup", kw,
                     lambda kw: embedding_dedup(out, **kw))

    if bench is not None:
        kw = dict(decontam or {})
        if "return_report" in kw:
            raise ValueError(
                "prepare_corpus: decontam config may not set "
                "'return_report' — the pipeline manages it; the report "
                "lands on PreparedCorpus.reports['decontaminate']"
            )
        kw.setdefault("corpus_tokens", words_col(F.col(text_col)))
        bench_text = kw.pop("bench_text_col", None)
        if "bench_tokens" not in kw:
            kw["bench_tokens"] = words_col(F.col(bench_text or text_col))
        elif bench_text is not None:
            raise ValueError(
                "prepare_corpus: decontam config has both 'bench_tokens' "
                "and 'bench_text_col' — they select the same thing; pass "
                "only one"
            )
        kw.setdefault("id_col", id_col)
        if isinstance(bench, Mapping):
            # dict of eval suites → one-scan multi-suite decontam;
            # drop-if-hit-ANY semantics, per-suite n-gram counts on
            # the report's notes
            out, dc_report = decontaminate_many(
                out, dict(bench), return_report=True, **kw
            )
        else:
            out, dc_report = decontaminate(
                out, bench, return_report=True, **kw
            )
        stages.append("decontaminate")
        reports["decontaminate"] = dc_report

    if line_dedup is not None and line_dedup is not False:
        kw = _as_kwargs(line_dedup, "line_dedup")
        keep_count = "count_col" in kw
        kw.setdefault("count_col", "_n_removed_lines")
        out = dedup_lines_within(out, text_col=text_col, **kw)
        if not keep_count:
            out = out.drop("_n_removed_lines")
        stages.append("dedup_lines_within")

    if boilerplate_min_docs is not None:
        out = remove_boilerplate_lines(
            out, text_col=text_col, id_col=id_col, min_docs=boilerplate_min_docs
        )
        stages.append("remove_boilerplate_lines")

    if quality is not None and quality is not False:
        out = quality_filter(out, text_col=text_col,
                             **_as_kwargs(quality, "quality"))
        stages.append("quality_filter")

    if scrub is not None and scrub is not False:
        kw = _as_kwargs(scrub, "scrub")
        kw.setdefault("with_counts", False)
        out = scrub_patterns(out, text_col=text_col, **kw)
        stages.append("scrub_patterns")

    if quota is not None:
        kw = _as_mapping(quota, "quota", "group_cols")
        if "k" not in kw:
            raise ValueError("prepare_corpus: quota config requires 'k'")
        group_cols = kw.pop("group_cols")
        k = kw.pop("k")
        order_col = kw.pop("order_col", None)
        if order_col is not None:
            if "salt" in kw:
                raise ValueError(
                    "prepare_corpus: quota 'salt' only applies to the "
                    "random (no order_col) quota"
                )
            out = topk_per_group(out, group_cols, order_col, k, id_col, **kw)
        else:
            if "descending" in kw:
                raise ValueError(
                    "prepare_corpus: quota 'descending' requires "
                    "'order_col' — the random quota has no order"
                )
            out = sample_exact_k_per_group(out, group_cols, id_col, k, **kw)
        stages.append("group_quota")

    if mixture is not None:
        kw = _as_mapping(mixture, "mixture", "rates")
        rates = kw.pop("rates")
        kw.setdefault("stratum_col", "source")
        out = weighted_mixture(out, id_col, rates, **kw)
        stages.append("weighted_mixture")

    split_out_col = None
    split_labels: tuple[str, ...] = ()
    if split is not None:
        kw = _as_mapping(split, "split", "fractions")
        fractions = kw.pop("fractions")
        split_out_col = kw.get("out_col", "split")
        split_labels = tuple(fractions)
        out = hash_split(out, id_col, fractions, **kw)
        stages.append("hash_split")

    vocab_df = None
    encoded = False
    if encode is not None and encode is not False:
        from .vocab import build_vocab, encode_documents

        kw = _as_kwargs(encode, "encode")
        vocab_df = kw.pop("vocab", None)
        vb = {
            k: kw.pop(k)
            for k in ("min_count", "max_size", "num_partitions")
            if k in kw
        }
        if vocab_df is None:
            # vocabulary built on the SURVIVING corpus: rare-word
            # thresholds then mean what they say about the data that
            # will actually train
            vocab_df = build_vocab(out, text_col=text_col, **vb)
        elif vb:
            raise ValueError(
                "prepare_corpus: encode config has both 'vocab' and "
                "vocabulary-build kwargs "
                f"({sorted(vb)}) — a passed vocab is used as-is"
            )
        # text is consumed here; every other surviving column (split
        # label, source, mixture columns) rides through the encode
        carry = [c for c in out.columns if c not in (id_col, text_col)]
        out = encode_documents(
            out, vocab_df, text_col=text_col, id_col=id_col,
            carry_cols=carry, **kw,
        )
        stages.append("encode_documents")
        encoded = True

    packs = None
    if pack is not None:
        kw = _as_mapping(pack, "pack", "max_tokens")
        max_tokens = kw.pop("max_tokens")
        use_split = kw.pop("use_split",
                           "train" if split_out_col is not None else None)
        to_pack = out
        if use_split is not None:
            if split_out_col is None:
                raise ValueError(
                    "prepare_corpus: pack use_split needs the split stage "
                    "(pass split=...) or use_split=None to pack all docs"
                )
            if use_split not in split_labels:
                # a label absent from the fractions would silently pack
                # ZERO docs — the whole corpus dropped with no error
                raise ValueError(
                    f"prepare_corpus: pack use_split={use_split!r} is not "
                    f"one of the split labels {sorted(split_labels)}; pass "
                    "use_split=<an existing label> (or use_split=None to "
                    "pack every surviving doc)"
                )
            to_pack = out.where(F.col(split_out_col) == F.lit(use_split))
        if not any(k in kw for k in ("count_col", "tokens_col", "text_col")):
            # encoded corpora pack their token-id arrays (packs carry
            # the concatenated ids); raw corpora pack by text
            if encoded:
                kw["tokens_col"] = "tokens"
            else:
                kw["text_col"] = text_col
        kw.setdefault("id_col", id_col)
        packs = pack_sequences(to_pack, max_tokens, **kw)
        stages.append("pack_sequences")

    return PreparedCorpus(
        docs=out, packs=packs, stages=tuple(stages), reports=reports,
        vocab=vocab_df,
    )
