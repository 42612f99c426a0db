"""Token histogram / divergence operators."""

import math

import pytest
from pyspark.sql import Row, functions as F

from bloomjoin_spark.operators import group_token_divergence, token_counts


def _toks(spark, rows):
    return spark.createDataFrame(
        [Row(source=s, tokens=t) for s, t in rows],
        "source string, tokens array<int>",
    )


def test_token_counts_plain_and_grouped(spark):
    df = _toks(spark, [("a", [1, 1, 2]), ("b", [2, 3])])
    plain = {(r["token"]): r["n"] for r in token_counts(df).collect()}
    assert plain == {1: 2, 2: 2, 3: 1}
    grouped = {
        (r["source"], r["token"]): r["n"]
        for r in token_counts(df, group_col="source").collect()
    }
    assert grouped == {("a", 1): 2, ("a", 2): 1, ("b", 2): 1, ("b", 3): 1}


def test_divergence_identical_groups_is_zero(spark):
    df = _toks(spark, [("a", [1, 2, 3]), ("b", [1, 2, 3])])
    rows = {r["source"]: r for r in group_token_divergence(df).collect()}
    assert rows["a"]["kl_vs_corpus"] == 0.0
    assert rows["b"]["kl_vs_corpus"] == 0.0
    assert rows["a"]["n_tokens"] == 3
    assert rows["a"]["n_distinct_tokens"] == 3


def test_divergence_exact_value(spark):
    # a: all token 1 (p=1); corpus: q(1)=3/4 → KL(a‖corpus)=ln(4/3)
    df = _toks(spark, [("a", [1, 1]), ("b", [1, 2])])
    rows = {r["source"]: r for r in group_token_divergence(df).collect()}
    assert rows["a"]["kl_vs_corpus"] == pytest.approx(math.log(4 / 3), abs=1e-6)
    # b: p=(1/2,1/2), q=(3/4,1/4) → 0.5 ln(2/3) + 0.5 ln(2)
    assert rows["b"]["kl_vs_corpus"] == pytest.approx(
        0.5 * math.log(2 / 3) + 0.5 * math.log(2), abs=1e-6
    )


def test_divergence_nonnegative_and_skew_ranks(spark):
    # the skewed group (token 9 only) must diverge more than the
    # corpus-like group
    df = _toks(
        spark,
        [("bal", [1, 2, 3, 4]), ("bal", [1, 2, 3, 4]), ("skew", [9, 9, 9, 9])],
    )
    rows = {r["source"]: r["kl_vs_corpus"] for r in group_token_divergence(df).collect()}
    assert all(v >= 0 for v in rows.values())
    assert rows["skew"] > rows["bal"]


def test_divergence_on_word_column(spark):
    # arbitrary Column expressions work (word-level distributions)
    from bloomjoin_spark.operators import words_col

    df = spark.createDataFrame(
        [Row(source="a", text="x x y"), Row(source="b", text="y z")],
        "source string, text string",
    )
    rows = group_token_divergence(df, tokens=words_col(F.col("text"))).collect()
    assert {r["source"] for r in rows} == {"a", "b"}


def test_bigram_logprob_exact_tiny(spark):
    """Hand-computed add-α bigram logprobs on a 2-doc corpus."""
    from bloomjoin_spark.operators import bigram_logprob_score

    df = _toks(spark, [("a", [1, 2]), ("b", [1, 3])])
    df = df.withColumn("doc_id", F.col("source")).drop("source")
    rows = {r["doc_id"]: r for r in bigram_logprob_score(df).collect()}
    # unigrams: 1→2, 2→1, 3→1; V=3; α=0.5
    # doc a bigram (1,2): ln((1+0.5)/(2+1.5)) = ln(1.5/3.5)
    assert rows["a"]["n_bigrams"] == 1
    assert rows["a"]["avg_logprob"] == pytest.approx(
        math.log(1.5 / 3.5), abs=1e-6
    )
    assert rows["b"]["avg_logprob"] == rows["a"]["avg_logprob"]  # symmetric


def test_bigram_logprob_ranks_gibberish_low(spark):
    """A doc made of corpus-typical bigrams must outscore a doc of
    bigrams never seen elsewhere; single-token docs are absent."""
    from bloomjoin_spark.operators import bigram_logprob_score

    typical = [("t%d" % i, [1, 2, 3, 1, 2, 3]) for i in range(5)]
    df = _toks(spark, typical + [("weird", [9, 8, 7, 6]), ("tiny", [5])])
    df = df.withColumn("doc_id", F.col("source")).drop("source")
    rows = {r["doc_id"]: r["avg_logprob"] for r in bigram_logprob_score(df).collect()}
    assert "tiny" not in rows
    assert rows["weird"] < rows["t0"]


def test_bigram_logprob_validates_alpha(spark):
    from bloomjoin_spark.operators import bigram_logprob_score

    df = _toks(spark, [("a", [1, 2])])
    with pytest.raises(ValueError):
        bigram_logprob_score(df, alpha=0.0)


def test_trigram_logprob_exact_tiny(spark):
    """Hand-computed add-α trigram logprobs on a 2-doc corpus."""
    from bloomjoin_spark.operators import trigram_logprob_score

    df = _toks(spark, [("a", [1, 2, 3]), ("b", [1, 2, 4])])
    df = df.withColumn("doc_id", F.col("source")).drop("source")
    rows = {r["doc_id"]: r for r in trigram_logprob_score(df).collect()}
    # trigrams: (1,2,3)×1, (1,2,4)×1; context bigrams: (1,2)×2, (2,3)×1,
    # (2,4)×1; V=4; α=0.5
    # doc a: ln((1+0.5)/(2+0.5·4)) = ln(1.5/4)
    assert rows["a"]["n_trigrams"] == 1
    assert rows["a"]["avg_logprob"] == pytest.approx(
        math.log(1.5 / 4.0), abs=1e-6
    )
    assert rows["b"]["avg_logprob"] == rows["a"]["avg_logprob"]  # symmetric


def test_trigram_logprob_ranks_gibberish_low_and_short_docs_absent(spark):
    from bloomjoin_spark.operators import trigram_logprob_score

    typical = [("t%d" % i, [1, 2, 3, 1, 2, 3]) for i in range(5)]
    df = _toks(spark, typical + [("weird", [9, 8, 7, 6]), ("pair", [5, 5])])
    df = df.withColumn("doc_id", F.col("source")).drop("source")
    rows = {
        r["doc_id"]: r["avg_logprob"] for r in trigram_logprob_score(df).collect()
    }
    assert "pair" not in rows  # < 3 tokens → no trigrams
    assert rows["weird"] < rows["t0"]


def test_trigram_logprob_validates_alpha(spark):
    from bloomjoin_spark.operators import trigram_logprob_score

    df = _toks(spark, [("a", [1, 2, 3])])
    with pytest.raises(ValueError):
        trigram_logprob_score(df, alpha=-1.0)


# ---------------------------------------------------------------------------
# source overlap matrix (theta sketches, one scan)
# ---------------------------------------------------------------------------

def test_source_overlap_matrix_exact_below_k(spark, sf_dir):
    from bloomjoin_spark.operators import source_overlap_matrix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("source").isin("src0", "src1", "src2")
    )
    words = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
    ).filter(F.col("w") != "").distinct()
    mat = source_overlap_matrix(docs.selectExpr(
        "source", "lower(text) as text"
    ).select("source", F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != ""), group_col="source", cols=["w"], k=65536)
    got = {(r["group_a"], r["group_b"]): r for r in mat.collect()}
    assert len(got) == 3  # 3 sources -> 3 unordered pairs
    wa = words.alias("a")
    wb = words.alias("b")
    exact = {
        (r["sa"], r["sb"]): r["n"]
        for r in wa.join(wb, F.col("a.w") == F.col("b.w"))
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    per_source = {
        r["source"]: r["n"]
        for r in words.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for (a, b), row in got.items():
        # vocab < k: sketches are exact, bound is 0, everything equal
        assert row["bound"] == 0.0
        assert row["intersection"] == exact.get((a, b), 0)
        assert row["distinct_a"] == per_source[a]
        assert row["distinct_b"] == per_source[b]
        assert row["union"] == per_source[a] + per_source[b] - exact.get((a, b), 0)


def test_source_overlap_matrix_max_groups_guard(spark, sf_dir):
    import pytest

    from bloomjoin_spark.operators import source_overlap_matrix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="max_groups"):
        source_overlap_matrix(
            docs, group_col="doc_id", cols=["text"], max_groups=4
        )


def test_cms_inner_product_bounds():
    """Pure-sketch property: the CMS inner product never undercounts
    the true Σ f_a(k)·f_b(k) and stays within ε·N_a·N_b above it."""
    import numpy as np

    from bloomjoin_spark.hashing import hash_numeric_array
    from bloomjoin_spark.sketches.cms import CmsSketch

    rng = np.random.default_rng(7)
    a_keys = rng.integers(0, 500, size=4000)
    b_keys = rng.integers(200, 700, size=3000)
    fa = np.bincount(a_keys, minlength=700).astype(np.int64)
    fb = np.bincount(b_keys, minlength=700).astype(np.int64)
    exact = int((fa * fb).sum())

    sa, sb = CmsSketch(1e-4, 0.01), CmsSketch(1e-4, 0.01)
    sa.update_hashes(hash_numeric_array(a_keys.astype(np.int64)))
    sb.update_hashes(hash_numeric_array(b_keys.astype(np.int64)))
    est = sa.inner_product(sb)
    assert est >= exact
    assert est <= exact + sa.inner_product_bound(sb)

    with pytest.raises(ValueError):
        sa.inner_product(CmsSketch(1e-3, 0.01))


def test_estimate_join_size_matches_exact_count(spark):
    """Distributed path: the estimate brackets the real inner-join
    cardinality on skewed keys, cross-typed key columns included."""
    from bloomjoin_spark.operators import estimate_join_size

    left = spark.range(0, 20000).selectExpr(
        "cast(id % 300 AS int) AS k", "id AS pay")
    right = spark.range(0, 5000).selectExpr(
        "cast(id % 450 AS bigint) AS kk")
    exact = left.join(right, left.k == right.kk).count()
    r = estimate_join_size(left, right, on="k", right_on="kk",
                           eps=1e-4, delta=0.01)
    assert r["n_left"] == 20000 and r["n_right"] == 5000
    assert exact <= r["estimate"] <= exact + r["bound"]

    with pytest.raises(ValueError):
        estimate_join_size(left, right, on=["k"], right_on=["kk", "kk"])


def test_estimate_join_size_null_keys_dropped(spark):
    """NULL keys never match in an inner join; the sketch drops them
    so they inflate neither the estimate nor the bound's N terms."""
    from bloomjoin_spark.operators import estimate_join_size

    left = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "k string")
    right = spark.createDataFrame([("a",), (None,)], "k string")
    r = estimate_join_size(left, right, on="k", eps=1e-3, delta=0.01)
    assert r["n_left"] == 3 and r["n_right"] == 1
    exact = 2  # two 'a' rows match the one right-side 'a'
    assert exact <= r["estimate"] <= exact + r["bound"]


def test_estimate_join_size_builds_carry_caller_tag(spark):
    """The two CMS builds run in driver threads that inherit the
    caller's ``SparkSession.addTag`` tag: every job of the call
    carries it, so tag-scoped job and stage attribution sees them."""
    from bloomjoin_spark.operators import estimate_join_size

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        js = store.jobsList(None)
        return {js.apply(i).jobId(): js.apply(i).jobTags().mkString(" ").split()
                for i in range(js.size())}

    left = spark.range(0, 2000).selectExpr("id % 50 AS k")
    right = spark.range(0, 500).selectExpr("id % 70 AS k")
    before = set(jobs())
    spark.addTag("joinsize")
    try:
        estimate_join_size(left, right, on="k", eps=1e-2, delta=0.1)
    finally:
        spark.removeTag("joinsize")
    call = {j: tags for j, tags in jobs().items() if j not in before}
    assert len(call) >= 2
    assert all(any(t.endswith("-joinsize") for t in tags) for tags in call.values()), call
