"""hash_split (deterministic md5-bucket splits) and pack_sequences
(partition-local greedy context packing): determinism, portability of
the split rule (the DuckDB oracle runs the same SQL), packing
invariants (token conservation, bound, oversize handling), and the
token-array carrying path."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomjoin_spark.operators import (
    hash_split,
    pack_sequences,
    pack_stats,
    split_sizes,
)

FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}


def test_split_deterministic_and_stable_under_growth(spark):
    """Same key → same split, regardless of partitioning or corpus
    size: the leak-proofness property incremental ingestion needs."""
    small = spark.range(0, 2_000).withColumnRenamed("id", "k")
    big = spark.range(0, 20_000, 1, 16).withColumnRenamed("id", "k")
    s_small = {r["k"]: r["split"] for r in hash_split(small, "k", FRACS).collect()}
    s_big = {r["k"]: r["split"] for r in hash_split(big, "k", FRACS).collect()}
    assert all(s_big[k] == v for k, v in s_small.items())
    # repartitioning never moves a key across splits
    s_re = {
        r["k"]: r["split"]
        for r in hash_split(big.repartition(7), "k", FRACS).collect()
    }
    assert s_re == s_big


def test_split_fractions_honored(spark):
    df = spark.range(0, 50_000).withColumnRenamed("id", "k")
    sizes = {r["split"]: r["n_rows"] for r in
             split_sizes(df, "k", FRACS).collect()}
    assert set(sizes) == set(FRACS)
    for label, frac in FRACS.items():
        assert abs(sizes[label] / 50_000 - frac) < 0.01, (label, sizes)


def test_split_matches_duckdb_sql(spark):
    """The split rule is plain md5-prefix SQL — DuckDB computes the
    IDENTICAL labels (this is what makes the rule portable and
    auditable outside Spark)."""
    df = spark.range(0, 5_000).withColumnRenamed("id", "k")
    got = {r["k"]: r["split"] for r in hash_split(df, "k", FRACS).collect()}
    con = duckdb.connect()
    rows = con.execute(
        """
        SELECT k,
               CASE WHEN substr(md5(k::VARCHAR || '|'), 1, 4) < 'cccd' THEN 'train'
                    WHEN substr(md5(k::VARCHAR || '|'), 1, 4) < 'e666' THEN 'val'
                    ELSE 'test' END AS split
        FROM range(0, 5000) t(k)
        """
    ).fetchall()
    assert {k: s for k, s in rows} == got


def test_split_salt_draws_independent_assignment(spark):
    df = spark.range(0, 20_000).withColumnRenamed("id", "k")
    a = {r["k"]: r["split"] for r in hash_split(df, "k", FRACS).collect()}
    b = {r["k"]: r["split"] for r in hash_split(df, "k", FRACS, salt="v2").collect()}
    moved = sum(1 for k in a if a[k] != b[k])
    assert 0.1 < moved / len(a) < 0.5  # ~1 - sum(f^2) = .34 expected


def test_hash_sample_deterministic_subset_of_itself(spark):
    """Kept keys at fraction f are a SUBSET of kept keys at f' > f
    (same salt): the nested-sample property md5 bucketing gives for
    free (df.sample cannot), which makes downsampling curves
    consistent."""
    from bloomjoin_spark.operators import hash_sample

    df = spark.range(0, 30_000).withColumnRenamed("id", "k")
    k10 = {r["k"] for r in hash_sample(df, "k", 0.1).collect()}
    k30 = {r["k"] for r in hash_sample(df, "k", 0.3).collect()}
    assert k10 <= k30
    assert abs(len(k10) / 30_000 - 0.1) < 0.01
    assert abs(len(k30) / 30_000 - 0.3) < 0.01
    # idempotent re-run
    assert {r["k"] for r in hash_sample(df, "k", 0.1).collect()} == k10


def test_weighted_mixture_rates_per_stratum(spark):
    from bloomjoin_spark.operators import weighted_mixture

    df = spark.createDataFrame(
        [(i, ["web", "books", "code"][i % 3]) for i in range(30_000)],
        "k long, source string",
    )
    out = weighted_mixture(
        df, "k", {"web": 0.1, "books": 1.0, "code": 0.5}, "source"
    )
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["web"] / 10_000 - 0.1) < 0.02
    assert counts["books"] == 10_000  # rate 1.0 keeps everything
    assert abs(counts["code"] / 10_000 - 0.5) < 0.02
    # unknown stratum → default_rate 0 drops
    extra = spark.createDataFrame([(99_999, "forum")], "k long, source string")
    assert weighted_mixture(extra, "k", {"web": 0.1}, "source").count() == 0
    assert weighted_mixture(
        extra, "k", {"web": 0.1}, "source", default_rate=1.0
    ).count() == 1
    # deterministic: the kept web keys are the hash_sample(0.1) keys
    from bloomjoin_spark.operators import hash_sample

    web = df.filter(F.col("source") == "web")
    assert (
        {r["k"] for r in out.filter(F.col("source") == "web").collect()}
        == {r["k"] for r in hash_sample(web, "k", 0.1).collect()}
    )


def test_null_keys_deterministic_semantics(spark):
    """Code-review r4 fix: concat_ws silently SKIPS a NULL key, so the
    bucket degenerated to md5(salt) — an arbitrary salt-dependent
    label.  Now NULL keys deterministically take the LAST split label
    (matching the DuckDB CASE-ELSE the oracle runs) and are always
    DROPPED by hash_sample/weighted_mixture (SQL WHERE semantics)."""
    from bloomjoin_spark.operators import hash_sample, weighted_mixture

    df = spark.createDataFrame(
        [(1, "a"), (None, "a"), (None, "b")], "k long, source string"
    )
    for salt in ("", "v2", "v3"):
        splits = [
            r["split"]
            for r in hash_split(df, "k", FRACS, salt=salt).filter(
                F.col("k").isNull()
            ).collect()
        ]
        assert splits == ["test", "test"], (salt, splits)  # last label, any salt
    assert hash_sample(df, "k", 0.99).filter(F.col("k").isNull()).count() == 0
    kept = weighted_mixture(df, "k", {"a": 1.0, "b": 1.0}, "source")
    assert kept.filter(F.col("k").isNull()).count() == 0
    assert kept.count() == 1  # the non-null row at rate 1.0 survives


def test_sampling_validation_errors(spark):
    from bloomjoin_spark.operators import hash_sample, weighted_mixture

    df = spark.range(1).withColumnRenamed("id", "k").withColumn("source", F.lit("a"))
    with pytest.raises(ValueError, match="fraction"):
        hash_sample(df, "k", 1.5)
    with pytest.raises(ValueError, match="rate for"):
        weighted_mixture(df, "k", {"a": -0.1})
    with pytest.raises(ValueError, match="default_rate"):
        weighted_mixture(df, "k", {"a": 0.5}, default_rate=2.0)


def test_threshold_str_properties():
    """Pure-kernel properties of the lexicographic threshold (the
    round-4 review found rate=1.0 formatting as 5-char '10000', which
    sorts BELOW 'ffff'): monotone in rate, endpoints exact, and every
    threshold must sort strictly above the buckets it admits."""
    from bloomjoin_spark.operators.sampling import _threshold_str

    assert _threshold_str(0.0) == "0000"  # admits nothing
    assert _threshold_str(1.0) == "g"  # admits every hex bucket
    assert "ffff" < _threshold_str(1.0)
    prev = _threshold_str(0.0)
    for i in range(0, 101):
        t = _threshold_str(i / 100)
        assert t >= prev
        prev = t
    # admitted-bucket count matches the rate to bucket granularity
    buckets = [format(b, "04x") for b in range(0, 65536, 257)]
    for rate in (0.25, 0.5, 0.9, 1.0):
        t = _threshold_str(rate)
        admitted = sum(1 for b in buckets if b < t)
        assert abs(admitted / len(buckets) - rate) < 0.01


def test_split_validation():
    from bloomjoin_spark.operators import hash_split_col

    with pytest.raises(ValueError, match="sum to 1"):
        hash_split_col(F.col("k"), {"a": 0.5, "b": 0.1})
    with pytest.raises(ValueError, match="non-empty"):
        hash_split_col(F.col("k"), {})


def test_pack_invariants_counts(spark):
    """Token conservation, per-pack bound, oversize isolation — over a
    multi-partition count-column input."""
    rows = [(i, (i * 37) % 900 + 10) for i in range(3_000)]
    rows += [(90_000 + j, 5_000) for j in range(3)]  # oversize docs
    df = spark.createDataFrame(rows, "doc_id long, n_tok long").repartition(8)
    packs = pack_sequences(df, max_tokens=2048, count_col="n_tok")
    pdf = packs.toPandas()
    # conservation: every doc packed exactly once
    all_ids = sorted(i for ids in pdf["doc_ids"] for i in ids)
    assert all_ids == sorted(r[0] for r in rows)
    assert int(pdf["n_tokens"].sum()) == sum(r[1] for r in rows)
    # bound: every non-oversize pack fits; oversize rows are single-doc
    reg = pdf[~pdf["oversize"]]
    ove = pdf[pdf["oversize"]]
    assert (reg["n_tokens"] <= 2048).all()
    assert len(ove) == 3 and (ove["n_docs"] == 1).all()
    assert (ove["n_tokens"] == 5000).all()
    # pack ids globally unique
    assert pdf["pack_id"].is_unique
    st = pack_stats(packs, 2048).first()
    assert st["n_docs"] == len(rows)
    assert st["total_tokens"] == sum(r[1] for r in rows)
    assert st["max_regular_pack"] <= 2048
    assert st["oversize_packs"] == 3
    assert 0.5 < st["avg_fill_ratio"] <= 1.0


def test_pack_carries_token_arrays(spark):
    """tokens_col mode: packs carry the concatenated token ids, in doc
    order, with no loss."""
    rows = [(i, list(range(i % 7 + 1))) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>").repartition(3)
    packs = pack_sequences(df, max_tokens=16, tokens_col="tokens").toPandas()
    truth = {i: t for i, t in rows}
    for _, row in packs.iterrows():
        expect = [tok for d in row["doc_ids"] for tok in truth[d]]
        assert list(row["tokens"]) == expect
        assert row["n_tokens"] == len(expect)
        if not row["oversize"]:
            assert row["n_tokens"] <= 16
    packed_tokens = sum(len(r["tokens"]) for _, r in packs.iterrows())
    assert packed_tokens == sum(len(t) for _, t in rows)


def test_pack_from_text_matches_text_stats_rule(spark):
    """text_col mode tokenizes exactly like add_text_stats (whitespace
    rule) — total packed tokens equal the n_tokens sum."""
    from bloomjoin_spark.operators import add_text_stats

    docs = spark.createDataFrame(
        [(1, "a b  c"), (2, ""), (3, "  "), (4, "one two three four")],
        "doc_id long, text string",
    )
    expected = (
        add_text_stats(docs).agg(F.sum("n_tokens")).first()[0]
    )
    st = pack_stats(
        pack_sequences(docs, max_tokens=3, text_col="text"), 3
    ).first()
    assert st["total_tokens"] == expected
    assert st["n_docs"] == 4


def test_pack_validation(spark):
    df = spark.range(1).withColumn("n", F.lit(1))
    with pytest.raises(ValueError, match="exactly one"):
        pack_sequences(df, 10)
    with pytest.raises(ValueError, match="exactly one"):
        pack_sequences(df, 10, count_col="n", text_col="n")
    with pytest.raises(ValueError, match="max_tokens"):
        pack_sequences(df, 0, count_col="n")
    # code-review r4 fix: string ids must fail UP FRONT, not as an
    # int(NaN) crash deep inside the executor after a silent long cast
    sdf = spark.createDataFrame([("doc-1", 3)], "doc_id string, n long")
    with pytest.raises(ValueError, match="integral id_col"):
        pack_sequences(sdf, 10, count_col="n")


def test_token_budget_mixture_expected_budget(spark):
    """Each budgeted stratum's kept tokens land near its budget (doc
    Bernoulli → expectation), unbudgeted strata keep everything, and
    the sample is deterministic."""
    from pyspark.sql import Row, functions as F

    from bloomjoin_spark.operators import token_budget_mixture

    rows = [
        Row(doc_id=f"a{i}", source="web", n_tok=100) for i in range(400)
    ] + [
        Row(doc_id=f"b{i}", source="books", n_tok=100) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, n_tok int")
    kept, rates = token_budget_mixture(
        df, "doc_id", {"web": 10_000}, return_rates=True
    )
    assert rates["web"][0] == 40_000
    assert rates["web"][1] == 0.25
    got = {r["source"]: r["t"] for r in
           kept.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()}
    assert got["books"] == 5_000  # unbudgeted → kept whole
    assert 6_000 <= got["web"] <= 14_000  # ≈10k in expectation
    again, _ = token_budget_mixture(df, "doc_id", {"web": 10_000}, return_rates=True)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_token_budget_mixture_drop_and_oversized_budget(spark):
    from pyspark.sql import Row

    from bloomjoin_spark.operators import token_budget_mixture

    df = spark.createDataFrame(
        [Row(doc_id="a", source="web", n_tok=10),
         Row(doc_id="b", source="books", n_tok=10)],
        "doc_id string, source string, n_tok int",
    )
    # budget above actual → rate 1.0 → keep all of that stratum
    kept, rates = token_budget_mixture(
        df, "doc_id", {"web": 999}, keep_unbudgeted=False, return_rates=True
    )
    assert rates["web"] == (10, 1.0)
    assert [r["doc_id"] for r in kept.collect()] == ["a"]  # books dropped
    with pytest.raises(ValueError):
        token_budget_mixture(df, "doc_id", {"web": -1})


def test_token_budget_mixture_zero_total_and_zero_budget(spark):
    """A budgeted stratum with zero token mass keeps its docs (rate 1.0
    — docs are free); an explicit zero budget drops the stratum."""
    from pyspark.sql import Row

    from bloomjoin_spark.operators import token_budget_mixture

    df = spark.createDataFrame(
        [Row(doc_id="a", source="empty", n_tok=0),
         Row(doc_id="b", source="web", n_tok=10)],
        "doc_id string, source string, n_tok int",
    )
    kept, rates = token_budget_mixture(
        df, "doc_id", {"empty": 100, "web": 0}, return_rates=True
    )
    assert rates["empty"] == (0, 1.0)
    assert rates["web"] == (10, 0.0)
    assert [r["doc_id"] for r in kept.collect()] == ["a"]


def test_list_offsets_i32_overflow_guard():
    """ADVICE r4: pack output offsets must accumulate in int64 and
    refuse (not silently wrap) when one Arrow batch's total list
    elements exceed the 2^31-1 limit of 32-bit Arrow list offsets."""
    import numpy as np
    import pytest

    from bloomjoin_spark.operators.sampling import _list_offsets_i32

    # in-range: exact int32 offsets
    offs = _list_offsets_i32(np.array([3, 0, 5], dtype=np.int64), "doc_ids")
    assert offs.dtype == np.int32
    assert offs.tolist() == [0, 3, 3, 8]

    # past 2^31-1 total elements: loud error, not a negative offset
    big = np.full(9, 250_000_000, dtype=np.int64)  # 2.25e9 total
    with pytest.raises(ValueError, match="32-bit Arrow list offsets"):
        _list_offsets_i32(big, "tokens")


class TestAssignContiguousIds:
    def test_matches_row_number(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from bloomjoin_spark.operators import assign_contiguous_ids

        df = spark.range(0, 997, 1, 7).select(
            ((F.col("id") * 131) % 2003).alias("k"),
            F.col("id").alias("payload"),
        )
        got = assign_contiguous_ids(df, "k", num_partitions=5)
        want = df.withColumn(
            "seq_id", F.row_number().over(Window.orderBy("k")) - 1
        )
        a = sorted((r["k"], r["payload"], r["seq_id"]) for r in got.collect())
        b = sorted((r["k"], r["payload"], r["seq_id"]) for r in want.collect())
        assert a == b
        # gap-free and contiguous
        ids = sorted(r["seq_id"] for r in got.collect())
        assert ids == list(range(997))

    def test_start_offset_and_determinism(self, spark):
        from pyspark.sql import functions as F

        from bloomjoin_spark.operators import assign_contiguous_ids

        df = spark.range(0, 200, 1, 4).select(F.col("id").alias("k"))
        a = assign_contiguous_ids(df, "k", start=1000).collect()
        b = assign_contiguous_ids(df, "k", start=1000).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert min(r["seq_id"] for r in a) == 1000
        assert max(r["seq_id"] for r in a) == 1199
        # ids follow the sort order: k == seq_id - 1000 here
        assert all(r["seq_id"] - 1000 == r["k"] for r in a)

    def test_empty_and_collision_guard(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from bloomjoin_spark.operators import assign_contiguous_ids

        empty = spark.range(0).select(F.col("id").alias("k"))
        assert assign_contiguous_ids(empty, "k").count() == 0
        with pytest.raises(ValueError, match="already exists"):
            assign_contiguous_ids(
                spark.range(3).withColumnRenamed("id", "seq_id"), "seq_id"
            )


class TestDeterministicShuffle:
    def test_reproducible_and_salt_sensitive(self, spark):
        from pyspark.sql import functions as F

        from bloomjoin_spark.operators import deterministic_shuffle

        df = spark.range(0, 300, 1, 4).select(F.col("id").alias("k"))
        a = {r["k"]: r["shuffle_rank"]
             for r in deterministic_shuffle(df, "k", salt="e1").collect()}
        b = {r["k"]: r["shuffle_rank"]
             for r in deterministic_shuffle(df, "k", salt="e1").collect()}
        c = {r["k"]: r["shuffle_rank"]
             for r in deterministic_shuffle(df, "k", salt="e2").collect()}
        assert a == b  # same salt: identical order
        assert a != c  # different salt (epoch): different order
        assert sorted(a.values()) == list(range(300))  # a permutation
        # not the identity order (md5 actually shuffles)
        assert [a[k] for k in sorted(a)] != list(range(300))

    def test_matches_sql_rule(self, spark):
        """The order rule is engine-portable: rank == ROW_NUMBER over
        md5(salt || key) computed by plain SQL."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from bloomjoin_spark.operators import deterministic_shuffle

        df = spark.range(0, 250, 1, 3).select(F.col("id").alias("k"))
        got = {r["k"]: r["shuffle_rank"]
               for r in deterministic_shuffle(df, "k", salt="s").collect()}
        want = {
            r["k"]: r["rn"]
            for r in df.withColumn(
                "rn",
                F.row_number().over(
                    Window.orderBy(
                        F.md5(F.concat(F.lit("s"), F.col("k").cast("string")))
                    )
                ) - 1,
            ).collect()
        }
        assert got == want


def test_assign_contiguous_ids_rejects_internal_column(spark):
    from bloomjoin_spark.operators import assign_contiguous_ids

    df = spark.range(5).selectExpr("id AS k", "id AS _bj_pid")
    with pytest.raises(ValueError, match="_bj_pid"):
        assign_contiguous_ids(df, "k")


class TestSampleExactK:
    def test_exact_size_and_determinism(self, spark, sf_dir):
        from bloomjoin_spark.operators import sample_exact_k

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        s1 = sample_exact_k(docs, "doc_id", 50)
        s2 = sample_exact_k(docs, "doc_id", 50)
        ids1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
        ids2 = sorted(r.doc_id for r in s2.select("doc_id").collect())
        assert len(ids1) == 50 and ids1 == ids2

    def test_nested_and_salt_independence(self, spark, sf_dir):
        from bloomjoin_spark.operators import sample_exact_k

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        k50 = {r.doc_id for r in
               sample_exact_k(docs, "doc_id", 50).select("doc_id").collect()}
        k100 = {r.doc_id for r in
                sample_exact_k(docs, "doc_id", 100).select("doc_id").collect()}
        assert k50 < k100  # nested: ranks only extend
        other = {r.doc_id for r in
                 sample_exact_k(docs, "doc_id", 50, salt="epoch2")
                 .select("doc_id").collect()}
        assert other != k50  # a different deterministic draw per salt

    def test_matches_row_number_rule_and_drops_nulls(self, spark):
        from pyspark.sql import Window

        from bloomjoin_spark.operators import sample_exact_k

        df = spark.createDataFrame(
            [(str(i),) for i in range(200)] + [(None,)], "k string"
        )
        got = {r.k for r in sample_exact_k(df, "k", 20).collect()}
        want = {
            r.k for r in df.filter(F.col("k").isNotNull())
            .withColumn("rn", F.row_number().over(
                Window.orderBy(F.md5(F.concat(F.lit(""), F.col("k"))))))
            .filter(F.col("rn") <= 20).collect()
        }
        assert got == want and None not in got

    def test_plans_as_take_ordered_not_global_sort(self, spark, sf_dir):
        from bloomjoin_spark.operators import sample_exact_k

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = (sample_exact_k(docs, "doc_id", 50)
                ._jdf.queryExecution().executedPlan().toString())
        assert "TakeOrderedAndProject" in plan
        # no range-exchange global sort: per-partition heaps only
        assert "rangepartitioning" not in plan.lower()

    def test_rejects_negative_k(self, spark, sf_dir):
        from bloomjoin_spark.operators import sample_exact_k

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        with pytest.raises(ValueError, match="k must be"):
            sample_exact_k(docs, "doc_id", -1)


class TestTopkPerGroup:
    def test_matches_window_rule_desc_and_asc(self, spark, sf_dir):
        from pyspark.sql import Window

        from bloomjoin_spark.operators import topk_per_group

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for desc, k in ((True, 7), (False, 5)):
            got = {
                r.doc_id
                for r in topk_per_group(
                    docs, "source", "n_chars", k, "doc_id",
                    descending=desc, salts=3,
                ).select("doc_id").collect()
            }
            o = (F.col("n_chars").desc(), F.col("doc_id").desc()) if desc \
                else (F.col("n_chars").asc(), F.col("doc_id").asc())
            want = {
                r.doc_id
                for r in docs.withColumn(
                    "rn",
                    F.row_number().over(Window.partitionBy("source").orderBy(*o)),
                ).filter(F.col("rn") <= k).collect()
            }
            assert got == want and got

    def test_small_groups_survive_whole(self, spark):
        # groups smaller than k keep every row (the slice clamp): a
        # 2-row group under k=5 must return both rows, not [].
        from bloomjoin_spark.operators import topk_per_group

        df = spark.createDataFrame(
            [("a", 1, 10), ("a", 2, 20), ("b", 3, 5)], "g string, id int, q int"
        )
        out = topk_per_group(df, "g", "q", 5, "id")
        assert out.count() == 3

    def test_multi_group_cols_and_null_order_dropped(self, spark):
        from bloomjoin_spark.operators import topk_per_group

        df = spark.createDataFrame(
            [("a", "x", 1, 10), ("a", "x", 2, None), ("a", "y", 3, 1),
             ("b", "x", 4, 2), ("b", "x", 5, 2)],
            "g1 string, g2 string, id int, q int",
        )
        got = {r.id for r in topk_per_group(
            df, ["g1", "g2"], "q", 1, "id").collect()}
        # null q never ranks; (b,x) tie on q=2 breaks by larger id.
        assert got == {1, 3, 5}

    def test_k_zero_and_validation(self, spark):
        from bloomjoin_spark.operators import topk_per_group

        df = spark.createDataFrame([("a", 1, 1)], "g string, id int, q int")
        assert topk_per_group(df, "g", "q", 0, "id").count() == 0
        with pytest.raises(ValueError, match="non-negative"):
            topk_per_group(df, "g", "q", -1, "id")
        with pytest.raises(ValueError, match="salts"):
            topk_per_group(df, "g", "q", 1, "id", salts=0)

    def test_reserved_column_guards(self, spark):
        """A caller '_win_id' would make the semi-join condition
        ambiguous; a caller '_es_rank' used to be silently overwritten
        then DROPPED from the result — both must refuse up front."""
        from bloomjoin_spark.operators import (
            sample_exact_k_per_group,
            topk_per_group,
        )

        df = spark.createDataFrame([("a", 1, 1)], "g string, id int, q int")
        with pytest.raises(ValueError, match="_win_id"):
            topk_per_group(df.withColumn("_win_id", F.lit(1)), "g", "q", 1, "id")
        with pytest.raises(ValueError, match="_es_rank"):
            sample_exact_k_per_group(
                df.withColumn("_es_rank", F.lit(1)), "g", "id", 1
            )

    def test_salt_count_does_not_change_answer(self, spark, sf_dir):
        from bloomjoin_spark.operators import topk_per_group

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = {r.doc_id for r in topk_per_group(
            docs, "source", "n_chars", 4, "doc_id", salts=1)
            .select("doc_id").collect()}
        b = {r.doc_id for r in topk_per_group(
            docs, "source", "n_chars", 4, "doc_id", salts=64)
            .select("doc_id").collect()}
        assert a == b


class TestWeightedSampleExactK:
    def test_exact_size_nested_and_deterministic(self, spark, sf_dir):
        from bloomjoin_spark.operators import weighted_sample_exact_k

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        s50 = {r.doc_id for r in weighted_sample_exact_k(
            docs, "doc_id", "n_chars", 50).select("doc_id").collect()}
        s50b = {r.doc_id for r in weighted_sample_exact_k(
            docs, "doc_id", "n_chars", 50).select("doc_id").collect()}
        s100 = {r.doc_id for r in weighted_sample_exact_k(
            docs, "doc_id", "n_chars", 100).select("doc_id").collect()}
        assert len(s50) == 50 and s50 == s50b and s50 < s100
        other = {r.doc_id for r in weighted_sample_exact_k(
            docs, "doc_id", "n_chars", 50, salt="v2")
            .select("doc_id").collect()}
        assert other != s50

    def test_weights_bias_inclusion(self, spark):
        # two weight classes 100:1 — the heavy class must dominate the
        # sample far beyond its 50% population share.
        from bloomjoin_spark.operators import weighted_sample_exact_k

        df = spark.createDataFrame(
            [(i, 100.0 if i % 2 == 0 else 1.0) for i in range(2000)],
            "id long, w double",
        )
        got = weighted_sample_exact_k(df, "id", "w", 200).collect()
        heavy = sum(1 for r in got if r.id % 2 == 0)
        assert len(got) == 200 and heavy > 180

    def test_null_and_nonpositive_weights_dropped(self, spark):
        from bloomjoin_spark.operators import weighted_sample_exact_k

        df = spark.createDataFrame(
            [(1, 1.0), (2, 0.0), (3, -5.0), (4, None), (None, 1.0)],
            "id int, w double",
        )
        got = {r.id for r in weighted_sample_exact_k(df, "id", "w", 10).collect()}
        assert got == {1}

    def test_k_validation(self, spark):
        from bloomjoin_spark.operators import weighted_sample_exact_k

        df = spark.createDataFrame([(1, 1.0)], "id int, w double")
        with pytest.raises(ValueError, match="non-negative"):
            weighted_sample_exact_k(df, "id", "w", -1)


def test_topk_per_group_plan_shape(spark, sf_dir):
    """The scale contract of docs/PLANS.md §20: the rank branch scans
    only (group, order, id) — payload columns never enter the rank
    exchanges — and the winner-id fan-back is a BROADCAST semi join,
    so corpus rows never shuffle at all."""
    from bloomjoin_spark.operators import topk_per_group
    from bloomjoin_spark.plans import plan_audit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = topk_per_group(docs, "source", "n_chars", 7, "doc_id", salts=4)
    out.count()  # settle AQE so join strategy/codegen are final
    audit = plan_audit(out)

    rank_scans = [
        s for s in audit.scans
        if set(s["read_schema_cols"]) == {"source", "n_chars", "doc_id"}
    ]
    assert rank_scans, f"rank branch not column-pruned: {audit.scans}"
    assert audit.joins.get("BroadcastHashJoin", 0) >= 1, audit.joins
    assert audit.joins.get("SortMergeJoin", 0) == 0, audit.joins
    assert audit.n_row_python_udfs == 0 and not audit.python_operators


class TestQuantileBuckets:
    """Equi-depth bucketing: exact-percentile rule, KLL scale path."""

    def test_equi_depth_and_rule(self, spark):
        from bloomjoin_spark.operators import quantile_buckets

        df = spark.range(1000).withColumn("v", F.col("id").cast("double"))
        out = quantile_buckets(df, "v", k=4)
        sizes = {r["bucket"]: r["n"] for r in
                 out.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
        assert set(sizes) == {0, 1, 2, 3}
        assert max(sizes.values()) - min(sizes.values()) <= 1
        # rule check: cutoff q1 of 0..999 is 249.75 → 249 in bucket 0,
        # 250 in bucket 1
        rows = {r["id"]: r["bucket"] for r in out.collect()}
        assert rows[249] == 0 and rows[250] == 1

    def test_tie_goes_lower_and_null_is_null(self, spark):
        from bloomjoin_spark.operators import quantile_buckets

        df = spark.createDataFrame(
            [(1, 5.0), (2, 10.0), (3, None)], "id long, v double"
        )
        out = {r["id"]: r["bucket"]
               for r in quantile_buckets(df, "v", cutoffs=[5.0]).collect()}
        assert out[1] == 0  # equal to the cutoff → lower bucket
        assert out[2] == 1
        assert out[3] is None

    def test_kll_close_to_exact(self, spark):
        from bloomjoin_spark.operators import quantile_cutoffs

        df = spark.range(20000).withColumn(
            "v", (F.col("id") % 997).cast("double")
        )
        exact = quantile_cutoffs(df, "v", k=4, method="exact")
        kll = quantile_cutoffs(df, "v", k=4, method="kll")
        for e, s in zip(exact, kll):
            assert abs(e - s) <= 0.05 * 997  # KLL(200) rank error ~1.3%

    def test_validation(self, spark):
        from bloomjoin_spark.operators import quantile_buckets, quantile_cutoffs

        df = spark.range(10).withColumn("v", F.col("id").cast("double"))
        with pytest.raises(ValueError):
            quantile_cutoffs(df, "v", k=1)
        with pytest.raises(ValueError):
            quantile_cutoffs(df, "v", k=4, method="nope")
        with pytest.raises(ValueError):
            quantile_buckets(df, "v")  # neither k nor cutoffs
        with pytest.raises(ValueError):
            quantile_buckets(df.withColumn("bucket", F.lit(1)), "v", k=2)

    def test_assignment_is_codegen_no_shuffle(self, spark):
        from bloomjoin_spark.operators import quantile_buckets

        df = spark.range(100).withColumn("v", F.col("id").cast("double"))
        out = quantile_buckets(df, "v", cutoffs=[25.0, 50.0, 75.0])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "EvalPython" not in plan


class TestTemperatureMixture:
    def _df(self, spark):
        # stratum a: 90 docs × 100 tokens; b: 10 docs × 100 tokens
        rows = [(f"a{i}", "a", 100) for i in range(90)] + [
            (f"b{i}", "b", 100) for i in range(10)
        ]
        return spark.createDataFrame(rows, "doc_id string, source string, n_tok int")

    def test_downsample_only_rates_hit_target_proportions(self, spark):
        from bloomjoin_spark.operators import temperature_mixture

        df = self._df(spark)
        kept, rates = temperature_mixture(
            df, "doc_id", alpha=0.5, return_rates=True
        )
        # t_a=9000, t_b=1000; favored stratum (b) kept whole, a at
        # (t_b/t_a)^0.5 — the p ∝ t^0.5 ratio: 3:1 kept mass
        assert rates["b"] == (1000.0, 1.0)
        t, r = rates["a"]
        assert t == 9000.0 and abs(r - (1000.0 / 9000.0) ** 0.5) < 1e-12
        assert kept.count() <= 90 + 10

    def test_alpha_one_is_natural_and_budget_caps(self, spark):
        from bloomjoin_spark.operators import temperature_mixture

        df = self._df(spark)
        _, rates = temperature_mixture(df, "doc_id", alpha=1.0, return_rates=True)
        assert all(r == 1.0 for _, r in rates.values())
        # budget: 1000 tokens at alpha=1 → uniform 10% rate everywhere
        _, rates = temperature_mixture(
            df, "doc_id", alpha=1.0, total_budget=1000, return_rates=True
        )
        assert abs(rates["a"][1] - 0.1) < 1e-12
        assert abs(rates["b"][1] - 0.1) < 1e-12
        # a huge budget caps every rate at 1
        _, rates = temperature_mixture(
            df, "doc_id", alpha=0.3, total_budget=10**9, return_rates=True
        )
        assert all(r == 1.0 for _, r in rates.values())

    def test_validation_and_null_strata(self, spark):
        import pytest as _pytest

        from bloomjoin_spark.operators import temperature_mixture

        df = self._df(spark)
        with _pytest.raises(ValueError, match="alpha"):
            temperature_mixture(df, "doc_id", alpha=-0.1)
        with _pytest.raises(ValueError, match="total_budget"):
            temperature_mixture(df, "doc_id", alpha=0.5, total_budget=-1)
        # NULL-stratum rows are dropped
        withnull = df.unionByName(
            spark.createDataFrame(
                [("z1", None, 50)], "doc_id string, source string, n_tok int"
            )
        )
        kept = temperature_mixture(withnull, "doc_id", alpha=1.0)
        assert kept.filter(F.col("source").isNull()).count() == 0


class TestRepeatMixture:
    def _df(self, spark):
        rows = [(f"a{i}", "a") for i in range(2000)] + [
            (f"b{i}", "b") for i in range(500)
        ]
        return spark.createDataFrame(rows, "doc_id string, source string")

    def test_repeat_counts_and_epochs(self, spark):
        from bloomjoin_spark.operators import repeat_mixture

        df = self._df(spark)
        out = repeat_mixture(df, "doc_id", {"a": 2.5, "b": 0.5})
        per = {r["source"]: r["n"] for r in
               out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        # stratum a: 2 full copies + ~50% extras; b: Bernoulli half
        assert abs(per["a"] / 2000 - 2.5) < 0.1
        assert abs(per["b"] / 500 - 0.5) < 0.1
        # epochs are dense 0..copies-1 per doc
        bad = (
            out.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"), F.max("epoch").alias("mx"),
                 F.min("epoch").alias("mn"))
            .filter((F.col("mx") != F.col("n") - 1) | (F.col("mn") != 0))
            .count()
        )
        assert bad == 0
        # rate 0.5 == weighted_mixture's Bernoulli keep, same keys
        from bloomjoin_spark.operators import weighted_mixture

        b = df.filter(F.col("source") == "b")
        keep_rm = {r.doc_id for r in repeat_mixture(
            b, "doc_id", {"b": 0.5}).collect()}
        keep_wm = {r.doc_id for r in weighted_mixture(
            b, "doc_id", {"b": 0.5}).collect()}
        assert keep_rm == keep_wm

    def test_defaults_nulls_and_validation(self, spark):
        from bloomjoin_spark.operators import repeat_mixture

        df = self._df(spark)
        # default_rate=1: unlisted strata pass through as one copy
        out = repeat_mixture(df, "doc_id", {"a": 2.0})
        assert out.filter(F.col("source") == "b").count() == 500
        # integer rates take no fractional coin: exact copy counts
        assert out.filter(F.col("source") == "a").count() == 4000
        # NULL key: floor(rate) copies, no fractional coin
        nk = spark.createDataFrame(
            [(None, "a"), (None, "b")], "doc_id string, source string"
        )
        got = repeat_mixture(nk, "doc_id", {"a": 2.9, "b": 0.9}).collect()
        assert [r.source for r in got] == ["a", "a"]
        with pytest.raises(ValueError, match="rate for"):
            repeat_mixture(df, "doc_id", {"a": -1.0})
        with pytest.raises(ValueError, match="already exists"):
            repeat_mixture(df.withColumn("epoch", F.lit(0)), "doc_id", {"a": 1.0})

    def test_temperature_upsampling_constant_mass(self, spark):
        """allow_upsampling without a budget: kept token mass stays at
        the corpus total while proportions move to p ∝ t^alpha."""
        from bloomjoin_spark.operators import temperature_mixture

        rows = [(f"a{i}", "a", 100) for i in range(900)] + [
            (f"b{i}", "b", 100) for i in range(100)
        ]
        df = spark.createDataFrame(rows, "doc_id string, source string, n_tok int")
        kept, rates = temperature_mixture(
            df, "doc_id", alpha=0.5, allow_upsampling=True, return_rates=True
        )
        # t_a=90000, t_b=10000; p=(0.75, 0.25); B=100000 →
        # rate_a=100000*.75/90000=.8333, rate_b=100000*.25/10000=2.5
        assert abs(rates["a"][1] - 0.75 / 0.9) < 1e-12
        assert abs(rates["b"][1] - 2.5) < 1e-12
        assert "epoch" in kept.columns
        mass = kept.agg(F.sum("n_tok")).first()[0]
        assert abs(mass / 100_000 - 1.0) < 0.05  # constant total mass


def test_temperature_zero_mass_and_overflow_guards(spark):
    """Review fixes: a zero-mass stratum is FREE (kept whole, like
    token_budget_mixture) instead of silently dropped — and the SQL
    oracle's pow() math never sees t=0; huge alpha raises a clean
    ValueError instead of OverflowError; NaN/inf rates are rejected."""
    import pytest as _pytest

    from bloomjoin_spark.operators import repeat_mixture, temperature_mixture

    rows = [("a1", "a", 100), ("a2", "a", 100), ("z1", "z", 0), ("z2", "z", None)]
    df = spark.createDataFrame(rows, "doc_id string, source string, n_tok int")
    kept, rates = temperature_mixture(df, "doc_id", alpha=0.5, return_rates=True)
    assert rates["a"] == (200.0, 1.0)
    assert rates["z"] == (0.0, 1.0)  # free, not dropped
    assert kept.count() == 4
    with _pytest.raises(ValueError, match="alpha.*overflow"):
        temperature_mixture(df, "doc_id", alpha=400.0, total_budget=10)
    with _pytest.raises(ValueError, match="alpha"):
        temperature_mixture(df, "doc_id", alpha=float("nan"))
    with _pytest.raises(ValueError, match="finite"):
        repeat_mixture(df, "doc_id", {"a": float("inf")})
    with _pytest.raises(ValueError, match="finite"):
        repeat_mixture(df, "doc_id", {"a": float("nan")})


def test_repeat_mixture_plan_no_exchange(spark):
    """Plan contract: repeat_mixture is one codegen expression + an
    explode — no shuffle, no Python stage."""
    from bloomjoin_spark.operators import repeat_mixture
    from bloomjoin_spark.plans import plan_audit

    df = spark.range(0, 1000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("s"), F.pmod("id", F.lit(3))).alias("source"),
    )
    out = repeat_mixture(df, "doc_id", {"s0": 2.5, "s1": 0.5})
    a = plan_audit(out)
    assert a.n_shuffle_exchanges + a.n_broadcast_exchanges == 0
    assert a.n_row_python_udfs == 0 and not a.python_operators
