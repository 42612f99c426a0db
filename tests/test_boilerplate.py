"""Corpus-level boilerplate line removal: exact semantics, order
preservation, row preservation, plan shape."""

import pytest
from pyspark.sql import Row, functions as F

from bloomjoin_spark.operators import remove_boilerplate_lines


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, source=f"s{i % 2}") for i, t in rows],
        "doc_id bigint, text string, source string",
    )


def test_repeat_within_one_doc_is_not_boilerplate(spark):
    # min_docs counts DISTINCT docs — a line repeated inside a single
    # document must not be flagged
    df = _docs(spark, [(0, "chorus\nchorus\nchorus"), (1, "other")])
    out = remove_boilerplate_lines(df, min_docs=2).collect()
    assert {r["doc_id"]: r["text"] for r in out} == {0: "chorus\nchorus\nchorus", 1: "other"}


def test_remove_preserves_order_and_rows(spark):
    df = _docs(
        spark,
        [
            (0, "header\nalpha\nmiddle shared\nbeta\nheader"),
            (1, "header\ngamma\nmiddle shared"),
            (2, "all mine"),
        ],
    )
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(df).collect()}
    assert out[0]["text"] == "alpha\nbeta"
    assert out[1]["text"] == "gamma"
    assert out[2]["text"] == "all mine"
    # non-text columns untouched, no rows dropped
    assert len(out) == 3
    assert out[1]["source"] == "s1"


def test_doc_fully_boilerplate_keeps_empty_row(spark):
    df = _docs(spark, [(0, "same"), (1, "same"), (2, "same")])
    out = {r["doc_id"]: r["text"] for r in remove_boilerplate_lines(df).collect()}
    assert out == {0: "", 1: "", 2: ""}


def test_empty_lines_are_structural(spark):
    # blank lines appear in every doc but must never be counted/dropped
    df = _docs(spark, [(0, "a\n\nb"), (1, "c\n\nd")])
    out = {r["doc_id"]: r["text"] for r in remove_boilerplate_lines(df).collect()}
    assert out == {0: "a\n\nb", 1: "c\n\nd"}


def test_out_col_leaves_original(spark):
    df = _docs(spark, [(0, "x\nshared"), (1, "shared\ny")])
    out = remove_boilerplate_lines(df, out_col="clean_text").collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[0]["text"] == "x\nshared"
    assert rows[0]["clean_text"] == "x"


def test_min_docs_validation(spark):
    # min_docs=0 would hold for every line hash and strip every line
    df = _docs(spark, [(0, "a")])
    with pytest.raises(ValueError, match="min_docs"):
        remove_boilerplate_lines(df, min_docs=0)


def test_corpus_shuffle_is_hash_only_and_anti_join_broadcasts(spark, sf_dir):
    """The line-frequency aggregate must shuffle line HASHES (16-byte
    rows), not line text, and the removal anti-join must broadcast the
    boilerplate set — at 100 TB the corpus side never re-shuffles for
    the removal itself."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = remove_boilerplate_lines(docs)
    out.count()  # materialize: the anti-join strategy is AQE's runtime
    # choice (no forced broadcast — a huge boilerplate set must be able
    # to degrade to shuffle), so inspect the FINAL adaptive plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    # count-side exchange carries only the hash + doc id
    import re

    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning(__bp_lh" in l]
    assert exch, plan
    assert "__bp_line" not in exch[0]
