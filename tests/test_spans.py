"""Cross-document duplicate token-span removal (operators/spans.py).

Pins: planted cross-doc spans are located and removed exactly (against
a brute-force reference), overlapping windows merge into maximal
spans, within-doc repetition never counts toward min_docs, short docs
and clean docs pass untouched, verify='hash' == verify='exact' on
collision-free data, the prefilter size gate changes the plan but
never the answer, and word-level (expression) inputs work.
"""

import pytest
from pyspark.sql import functions as F

from bloomjoin_spark.operators.spans import (
    duplicate_span_starts,
    remove_duplicate_spans,
)
from bloomjoin_spark.operators.text import words_col


def brute_force(rows, n, min_docs):
    """Reference: dict doc_id -> (kept_tokens, n_removed)."""
    from collections import defaultdict

    grams = defaultdict(set)  # gram -> {doc}
    for doc, toks in rows:
        for i in range(len(toks) - n + 1):
            grams[tuple(toks[i : i + n])].add(doc)
    dup = {g for g, docs in grams.items() if len(docs) >= min_docs}
    out = {}
    for doc, toks in rows:
        covered = set()
        for i in range(len(toks) - n + 1):
            if tuple(toks[i : i + n]) in dup:
                covered.update(range(i, i + n))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        out[doc] = (kept, len(covered))
    return out


ROWS = [
    ("a", [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
    ("b", [99, 3, 4, 5, 6, 7, 100, 101, 102, 103]),
    ("c", [50, 51, 52, 53, 54, 55, 56, 57]),
    ("d", [7, 7, 7, 7, 7, 7, 7, 7]),  # within-doc repeats only
    ("e", [1, 2]),  # shorter than n
    ("f", [200, 1, 2, 3, 201, 8, 9, 10, 202]),  # two separate spans vs a
    ("g", []),
    ("h", None),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id string, tokens array<int>")


#: sha256 of ``duplicate_span_starts``'s sorted rows and report per case,
#: generated before its duplicated-hash count rode the job that
#: materializes the set
SPAN_START_DIGESTS = {
    "exact": "2905fdbfacd37f0c6dc897dae63e987c9299ece1d0408611a7c3d568faeabc94",
    "hash": "a7c76f62b92df209b22e721fa0127e9f60af26f66498d18f01f89e87b6a7246a",
    "no_prefilter": "00bada249408588d815c6df9a1b5644f3fdeb05bfdbfcd0fcbb75a9c7fbff70a",
    "min_docs_3": "cd5d0687e25cdeacd9fda6ee9bc60eb52849ee774d79d2bc576696bab8aa337e",
    "no_dups": "b66cb8a2a2f94b31c34d0a8f745a13e3e87dcfc3e3679ece9f3703f059c1b4c9",
}


def span_start_digests(spark, cases=tuple(SPAN_START_DIGESTS)):
    """``{case: sha256}`` of one ``duplicate_span_starts`` call over
    ``ROWS`` (``no_dups``: its clean documents only)."""
    import hashlib

    df = spark.createDataFrame(ROWS, "doc_id string, tokens array<int>").repartition(3)
    kw = {"exact": {}, "hash": {"verify": "hash"}, "no_prefilter": {"max_filter_bytes": 0},
          "min_docs_3": {"min_docs": 3}, "no_dups": {}}
    out = {}
    for case in cases:
        src = df.where(F.col("doc_id").isin("c", "d", "g")) if case == "no_dups" else df
        got, rep = duplicate_span_starts(src, n=3, return_report=True, **kw[case])
        rows = sorted(tuple(r) for r in got.collect())
        blob = repr((got.schema.simpleString(), rows, sorted(vars(rep).items())))
        out[case] = hashlib.sha256(blob.encode()).hexdigest()
    return out


@pytest.mark.parametrize("case", list(SPAN_START_DIGESTS))
def test_span_start_results_unchanged(spark, case):
    """Same starts and the same report (``n_dup_hashes``, prefilter,
    filter bits, notes) under each verify mode and gate."""
    assert span_start_digests(spark, [case]) == {case: SPAN_START_DIGESTS[case]}


def _collect_clean(df):
    return {
        r["doc_id"]: (r["tokens"], r["n_dup_tokens"])
        for r in df.collect()
    }


class TestRemoveDuplicateSpans:
    def test_matches_brute_force(self, docs):
        n = 3
        want = brute_force([(d, t) for d, t in ROWS if t is not None], n, 2)
        got = _collect_clean(remove_duplicate_spans(docs, n=n))
        for doc, (kept, n_rm) in want.items():
            assert got[doc] == (kept, n_rm), doc
        # NULL token arrays ride through as NULL with 0 removed
        assert got["h"] == (None, 0)

    @pytest.mark.parametrize("min_docs", [2, 3])
    def test_min_docs(self, docs, min_docs):
        want = brute_force(
            [(d, t) for d, t in ROWS if t is not None], 3, min_docs
        )
        got = _collect_clean(remove_duplicate_spans(docs, n=3, min_docs=min_docs))
        for doc, exp in want.items():
            assert got[doc] == exp, doc

    def test_within_doc_repeats_do_not_count(self, docs):
        got = _collect_clean(remove_duplicate_spans(docs, n=3))
        assert got["d"] == ([7] * 8, 0)

    def test_overlapping_windows_merge(self, spark):
        # a and b share tokens 1..6 -> windows at 4 starts merge to one span
        df = spark.createDataFrame(
            [("a", [1, 2, 3, 4, 5, 6, 90]), ("b", [91, 1, 2, 3, 4, 5, 6])],
            "doc_id string, tokens array<int>",
        )
        got = _collect_clean(remove_duplicate_spans(df, n=3))
        assert got["a"] == ([90], 6)
        assert got["b"] == ([91], 6)

    def test_hash_verify_parity(self, docs):
        exact = _collect_clean(remove_duplicate_spans(docs, n=3, verify="exact"))
        hashed = _collect_clean(remove_duplicate_spans(docs, n=3, verify="hash"))
        assert exact == hashed

    def test_prefilter_gate_changes_plan_not_answer(self, docs):
        on, rep_on = remove_duplicate_spans(docs, n=3, return_report=True)
        off, rep_off = remove_duplicate_spans(
            docs, n=3, max_filter_bytes=0, return_report=True
        )
        assert rep_on.prefilter == "bloom" and rep_on.filter_bits > 0
        assert rep_off.prefilter == "none" and rep_off.notes
        assert _collect_clean(on) == _collect_clean(off)

    def test_no_duplicates_early_exit(self, spark):
        df = spark.createDataFrame(
            [("a", [1, 2, 3]), ("b", [4, 5, 6])],
            "doc_id string, tokens array<int>",
        )
        out, rep = remove_duplicate_spans(df, n=3, return_report=True)
        assert rep.n_dup_hashes == 0
        got = _collect_clean(out)
        assert got == {"a": ([1, 2, 3], 0), "b": ([4, 5, 6], 0)}

    def test_out_col_and_counts_col(self, docs):
        out = remove_duplicate_spans(
            docs, n=3, out_col="clean", counts_col="nrm"
        )
        assert set(out.columns) == {"doc_id", "tokens", "clean", "nrm"}
        row = {r["doc_id"]: r for r in out.collect()}
        assert row["a"]["tokens"] == [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        # a shares 1,2,3 and 8,9,10 with f and 3..7 with b -> fully covered
        assert row["a"]["clean"] == []
        assert row["a"]["nrm"] == 10
        assert row["c"]["clean"] == row["c"]["tokens"] and row["c"]["nrm"] == 0
        no_counts = remove_duplicate_spans(docs, n=3, counts_col=None)
        assert set(no_counts.columns) == {"doc_id", "tokens"}

    def test_validation(self, docs, spark):
        with pytest.raises(ValueError, match="min_docs"):
            remove_duplicate_spans(docs, n=3, min_docs=1)
        with pytest.raises(ValueError, match="verify"):
            remove_duplicate_spans(docs, n=3, verify="maybe")
        with pytest.raises(ValueError, match="tokens_col"):
            remove_duplicate_spans(docs, n=3, tokens_col="nope")
        with pytest.raises(ValueError, match="n must be"):
            remove_duplicate_spans(docs, n=0)
        clash = docs.withColumn("__sp_h", F.lit(1))
        with pytest.raises(ValueError, match="collide"):
            remove_duplicate_spans(clash, n=3)
        # counts_col colliding with an existing column (e.g. a second
        # pass over this operator's own output) must refuse, not emit
        # a duplicate column name
        second_pass = docs.withColumn("n_dup_tokens", F.lit(0).cast("bigint"))
        with pytest.raises(ValueError, match="counts_col"):
            remove_duplicate_spans(second_pass, n=3)
        with pytest.raises(ValueError, match="counts_col"):
            remove_duplicate_spans(docs, n=3, out_col="x", counts_col="x")


class TestDuplicateSpanStarts:
    def test_starts_are_sorted_distinct_one_based(self, docs):
        got = {
            r["doc_id"]: r["starts"]
            for r in duplicate_span_starts(docs, n=3).collect()
        }
        # shared with f: (1,2,3) and (8,9,10); with b: starts 3,4,5
        assert got["a"] == [1, 3, 4, 5, 8]
        assert all(v == sorted(set(v)) for v in got.values())
        assert "c" not in got and "d" not in got and "e" not in got

    def test_expression_tokens_word_level(self, spark):
        df = spark.createDataFrame(
            [
                ("a", "the quick brown fox jumps high"),
                ("b", "lazy the quick brown fox sleeps"),
                ("c", "completely different words entirely here now"),
            ],
            "doc_id string, text string",
        )
        got = {
            r["doc_id"]: r["starts"]
            for r in duplicate_span_starts(
                df, n=4, tokens_col=words_col(F.col("text"))
            ).collect()
        }
        # "the quick brown fox" at word 1 of a, word 2 of b
        assert got == {"a": [1], "b": [2]}
