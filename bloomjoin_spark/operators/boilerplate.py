"""Corpus-level boilerplate line removal (CCNet / RefinedWeb-style):
drop every line that occurs in at least ``min_docs`` DISTINCT documents
(headers, footers, cookie banners), then reassemble the documents in
original line order.

Scale shape (the part that must survive 100 TB):

- lines explode inside the scan stage (``posexplode(split(...))``,
  whole-stage codegen) and shuffle as **(xxhash64(line), doc_id)**
  pairs — 16 bytes/row, never the line text — into one
  partial-aggregated distinct count per line hash;
- the boilerplate set (lines in ≥ min_docs docs) is proportional to
  the amount of TRUE boilerplate, so in the common case AQE converts
  the removal anti-join to a broadcast join at runtime (its size is
  known post-aggregation) and the corpus never re-shuffles for the
  removal; a pathological corpus whose duplicated-line vocabulary is
  itself huge degrades to a shuffled anti-join instead of OOMing a
  forced broadcast;
- reassembly is the one unavoidable corpus-wide shuffle: group by
  doc_id, ``array_sort`` on position, ``array_join`` — partial
  collect_list on the map side, doc-sized rows on the reduce side.

Empty lines are structural, not boilerplate: they are never counted
and never dropped.  Matching is on the 64-bit line hash — two distinct
lines colliding (≈2⁻⁶⁴) would drop an innocent line; acceptable for
dedup semantics and documented here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["remove_boilerplate_lines"]

_LINE = "__bp_line"
_POS = "__bp_pos"
_LH = "__bp_lh"


def _lines(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias(_POS, _LINE),
    ).withColumn(_LH, F.xxhash64(_LINE))


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """``df`` with boilerplate lines removed from ``text_col`` (written
    to ``out_col``, default: in place), original line order preserved.
    A document whose every line is boilerplate keeps its row with empty
    text — rows are never dropped, only line content.

    ``id_col`` MUST be row-unique (ADVICE r4): reassembly groups lines
    by it and joins the rebuilt text back on it, so duplicate ids would
    interleave two rows' lines into one text and fan it back out to
    every duplicate.  Duplicate ids also make the ``min_docs``
    document-frequency count ambiguous, so the operator does not try to
    repair them — run ``exact_dedup`` (or assign
    ``monotonically_increasing_id()`` through a checkpoint) first."""
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    out_col = out_col or text_col
    lines = _lines(df, text_col, id_col)
    common = (
        lines.where(F.length(_LINE) > 0)
        .groupBy(_LH)
        .agg(F.count_distinct(id_col).alias("__bp_n"))
        .where(F.col("__bp_n") >= min_docs)
        .select(_LH)
    )
    # no forced broadcast: AQE sees the aggregate's actual output size
    # and picks broadcast (common case) or shuffle (pathological corpus
    # where the boilerplate set itself is huge) — a forced F.broadcast
    # would OOM at exactly the scale this module claims to survive
    kept = lines.join(common, on=_LH, how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col(_POS), F.col(_LINE)))),
                lambda s: s[_LINE],
            ),
            "\n",
        ).alias("__bp_clean")
    )
    # left join back: docs that lost every line get empty text, and all
    # non-text columns ride through untouched
    joined = df.join(rebuilt, on=id_col, how="left")
    cleaned = F.coalesce(F.col("__bp_clean"), F.lit(""))
    cols = [
        cleaned.alias(c) if c == out_col else F.col(c) for c in df.columns
    ]
    if out_col not in df.columns:
        cols.append(cleaned.alias(out_col))
    return joined.select(*cols)
