"""Benchmark decontamination: exactness (the Bloom prefilter must never
change the answer vs the exact explode-join), both engines, edge shapes.

The operator has no direct reference analog (the reference joins on
scalar keys, ``R/bloomjoin.R``); the contract under test is the same
one bloom_join pins — prefiltered output identical to the exact path.
"""

import pytest
from pyspark.sql import Row, functions as F

from bloomjoin_spark.operators.decontam import (
    contaminated_docs,
    decontaminate,
    ngrams_col,
    words_col,
)
from conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, tokens=t) for i, t in rows],
        "doc_id bigint, tokens array<int>",
    )


def _exact(corpus, bench, n):
    """Ground truth: explode both sides, exact join on the n-gram."""
    c = corpus.select("doc_id", F.explode(ngrams_col(F.col("tokens"), n)).alias("ng"))
    b = bench.select(F.explode(ngrams_col(F.col("tokens"), n)).alias("ng")).distinct()
    return c.join(b, "ng").groupBy("doc_id").agg(
        F.count_distinct("ng").alias("n_hits")
    )


def test_ngrams_col_basic(spark):
    df = _docs(spark, [(0, [1, 2, 3, 4]), (1, [7, 8]), (2, []), (3, None)])
    out = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", ngrams_col(F.col("tokens"), 3).alias("g")).collect()
    }
    assert out[0] == [[1, 2, 3], [2, 3, 4]]
    assert out[1] == []  # shorter than n
    assert out[2] == []
    assert out[3] == []  # NULL-safe


def test_ngrams_col_rejects_bad_n():
    with pytest.raises(ValueError):
        ngrams_col(F.col("x"), 0)


@pytest.mark.parametrize("engine", ["native", "bloom"])
def test_planted_contamination_matches_exact(spark, engine):
    # doc 10 contains bench doc 100's trigram [5,6,7]; doc 11 is clean;
    # doc 12 repeats the gram twice (n_hits must still count it ONCE)
    corpus = _docs(
        spark,
        [
            (10, [1, 5, 6, 7, 2]),
            (11, [9, 9, 9, 9, 9]),
            (12, [5, 6, 7, 0, 5, 6, 7]),
        ],
    )
    bench = _docs(spark, [(100, [5, 6, 7]), (101, [4, 4, 4])])
    got = contaminated_docs(corpus, bench, n=3, engine=engine)
    rows = {r["doc_id"]: r["n_hits"] for r in got.collect()}
    assert rows == {10: 1, 12: 1}
    exact = {r["doc_id"]: r["n_hits"] for r in _exact(corpus, bench, 3).collect()}
    assert rows == exact


def test_exactness_under_tiny_filter(spark):
    """fpp≈0.5 forces Bloom false positives through the prefilter; the
    verify join must still produce the exact answer."""
    corpus = _docs(spark, [(i, [i, i + 1, i + 2, i + 3]) for i in range(60)])
    bench = _docs(spark, [(1000, [7, 8, 9, 10])])
    got = contaminated_docs(corpus, bench, n=4, fpp=0.5, engine="bloom")
    exact = _exact(corpus, bench, 4)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exact.collect()))


def test_empty_bench_flags_nothing(spark):
    corpus = _docs(spark, [(0, [1, 2, 3])])
    bench = _docs(spark, [(9, [1])])  # too short for n=3 → no n-grams
    out, rep = contaminated_docs(corpus, bench, n=3, return_report=True)
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_hits"]
    assert rep.engine == "none" and rep.n_bench_ngrams == 0


def test_decontaminate_removes_flagged_only(spark):
    corpus = _docs(spark, [(0, [1, 2, 3]), (1, [4, 5, 6]), (2, [1, 2, 3])])
    bench = _docs(spark, [(50, [1, 2, 3])])
    clean = decontaminate(corpus, bench, n=3)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1]


def test_words_col_text_path(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="a b c d"), Row(doc_id=1, text="  "), Row(doc_id=2, text="a b c x")],
        "doc_id bigint, text string",
    )
    bench = df.where("doc_id = 0")
    got = contaminated_docs(
        df, bench, n=3, corpus_tokens=words_col(F.col("text"))
    )
    rows = {r["doc_id"]: r["n_hits"] for r in got.collect()}
    # doc0 self-hit (two trigrams), doc2 shares only "a b c"
    assert rows == {0: 2, 2: 1}


def test_report_fields(spark):
    corpus = _docs(spark, [(0, [1, 2, 3, 4])])
    bench = _docs(spark, [(9, [2, 3, 4])])
    out, rep = contaminated_docs(corpus, bench, n=3, return_report=True)
    assert rep.engine in ("native", "bloom")
    assert rep.n_bench_ngrams == 1
    assert rep.filter_bits > 0
    assert out.count() == 1


def test_explode_stage_stays_pruned(spark, sf_dir):
    """The corpus scan must read only (doc_id, text) even though the
    table has more columns — the generator must not block pruning."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 29 == 3)
    out = contaminated_docs(
        docs, bench, n=6, corpus_tokens=words_col(F.col("text"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert scans, plan
    for s in scans:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text"}, f"unpruned scan: {cols}"


def test_ngram_hashes_match_gram_hashes(spark):
    """The window hash of a doc at position i must equal the window
    hash of the isolated gram — the cross-side contract the build and
    probe rely on."""
    from bloomjoin_spark.operators import ngram_hashes_col, ngrams_col

    df = _docs(spark, [(0, [5, 6, 7, 8, 9])])
    row = df.select(
        ngram_hashes_col(F.col("tokens"), 3).alias("h"),
        ngrams_col(F.col("tokens"), 3).alias("g"),
    ).collect()[0]
    gram_hashes = []
    for g in row["g"]:
        gdf = spark.createDataFrame([(g,)], "tokens array<int>")
        gram_hashes.append(
            gdf.select(ngram_hashes_col(F.col("tokens"), 3).alias("h")).collect()[0]["h"][0]
        )
    assert row["h"] == gram_hashes


def test_sketch_engine_handles_null_and_short_rows(spark):
    corpus = _docs(
        spark, [(0, [1, 2, 3]), (1, None), (2, []), (3, [9])]
    )
    bench = _docs(spark, [(50, [1, 2, 3])])
    got = contaminated_docs(corpus, bench, n=3, engine="bloom")
    assert {(r["doc_id"], r["n_hits"]) for r in got.collect()} == {(0, 1)}


def test_null_tokens_do_not_collide_windows(spark):
    """xxhash64 skips null args — the null-bitmask lane must keep
    [null,a,b], [a,null,b] and [a,b,null] in distinct hash domains,
    and a clean window must hash identically whether or not its row
    contains a null elsewhere."""
    from bloomjoin_spark.operators import ngram_hashes_col

    df = _docs(
        spark,
        [
            (0, [None, 7, 8]),
            (1, [7, None, 8]),
            (2, [7, 8, None]),
            (3, [7, 8, 9, None]),   # clean window [7,8,9] in a dirty row
            (4, [7, 8, 9]),         # same window in a clean row
        ],
    )
    rows = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", ngram_hashes_col(F.col("tokens"), 3).alias("h")
        ).collect()
    }
    assert len({rows[0][0], rows[1][0], rows[2][0]}) == 3
    assert rows[3][0] == rows[4][0]


def test_ngram_hashes_rejects_oversize_n():
    from bloomjoin_spark.operators import ngram_hashes_col

    with pytest.raises(ValueError):
        ngram_hashes_col(F.col("x"), 64)


def test_over_cap_auto_dispatches_sketch_engine_same_output(spark, monkeypatch):
    """VERDICT r4 #7: an eval suite whose serialized native filter
    exceeds the plan-literal cap is the sketch engine's declared
    territory — force the cap and assert auto lands on the sketch
    engine with output IDENTICAL to the native run (and to the exact
    explode-join)."""
    import importlib

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")

    corpus = _docs(
        spark,
        [(i, [i, i + 1, i + 2, 5, 6, 7]) for i in range(0, 40, 2)]
        + [(i, [100 + i, 200 + i, 300 + i]) for i in range(1, 40, 2)],
    )
    bench = _docs(spark, [(900, [5, 6, 7]), (901, [3, 4, 5, 6])])

    native = contaminated_docs(corpus, bench, n=3, engine="native")
    native_rows = sorted(tuple(r) for r in native.collect())

    monkeypatch.setattr(bj, "_NATIVE_FILTER_CAP_BYTES", 8)
    capped, rep = contaminated_docs(
        corpus, bench, n=3, engine="auto", return_report=True
    )
    assert rep.engine == "bloom"  # the cap pushed auto off the native path
    assert "plan-literal cap" in rep.engine_fallback_reason
    # above the cap the per-document probe is the one remaining array
    # pandas probe
    assert "ArrowEvalPython" in capped._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in capped.collect()) == native_rows

    exact_rows = sorted(tuple(r) for r in _exact(corpus, bench, 3).collect())
    assert native_rows == exact_rows


def test_auto_mode_decontam_fallback_is_observable(spark, monkeypatch):
    """Round 5 review: decontam's auto dispatch shares bloom_join's
    observability contract — private-API drift records
    engine_fallback_reason on the report and warns once per session
    (latch shared with bloom_join)."""
    import importlib
    import warnings

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")

    def boom(*a, **kw):
        raise RuntimeError("ExpressionUtils moved")

    monkeypatch.setattr(bj, "_native_build_filter", boom)
    monkeypatch.setattr(bj, "_native_fallback_warned", False)
    corpus = _docs(spark, [(1, [1, 2, 3, 4]), (2, [9, 9, 9])])
    bench = _docs(spark, [(900, [2, 3, 4])])
    with pytest.warns(UserWarning, match="native bloom engine unavailable"):
        flagged, rep = contaminated_docs(
            corpus, bench, n=3, engine="auto", return_report=True
        )
        rows = sorted(r.doc_id for r in flagged.collect())
    assert rep.engine == "bloom"
    assert "ExpressionUtils moved" in rep.engine_fallback_reason
    assert rows == [1]
    # the latch is now set: a second degraded call records the reason
    # on its report but does NOT warn again
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _, rep2 = contaminated_docs(
            corpus, bench, n=3, engine="auto", return_report=True
        )
    assert "ExpressionUtils moved" in rep2.engine_fallback_reason


# ---------------------------------------------------------------------------
# multi-suite decontamination: one corpus scan, per-suite attribution
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("engine", ["native", "bloom"])
def test_many_equals_per_suite_runs(spark, engine):
    """The defining contract: contaminated_docs_many over {A, B} gives,
    per suite, EXACTLY what contaminated_docs gives for that suite —
    the union filter only widens candidates; verify removes the rest."""
    from bloomjoin_spark.operators import contaminated_docs_many

    corpus = _docs(
        spark,
        [
            (10, [1, 5, 6, 7, 2]),        # hits A only
            (11, [9, 9, 9, 9, 9]),        # clean
            (12, [5, 6, 7, 0, 8, 8, 8]),  # hits A and B
            (13, [8, 8, 8, 3]),           # hits B only
        ],
    )
    benches = {
        "suite_a": _docs(spark, [(100, [5, 6, 7])]),
        "suite_b": _docs(spark, [(200, [8, 8, 8, 8])]),
    }
    got = contaminated_docs_many(corpus, benches, n=3, engine=engine)
    rows = {(r["doc_id"], r["suite"]): r["n_hits"] for r in got.collect()}
    expected = {}
    for name, bench in benches.items():
        for r in contaminated_docs(corpus, bench, n=3, engine=engine).collect():
            expected[(r["doc_id"], name)] = r["n_hits"]
    assert rows == expected
    assert (12, "suite_a") in rows and (12, "suite_b") in rows
    assert (13, "suite_a") not in rows


def test_many_shared_grams_attributed_to_both_suites(spark):
    """A gram present in TWO suites attributes the same doc to both."""
    from bloomjoin_spark.operators import contaminated_docs_many

    corpus = _docs(spark, [(1, [5, 6, 7, 9])])
    benches = {
        "a": _docs(spark, [(100, [5, 6, 7])]),
        "b": _docs(spark, [(200, [5, 6, 7, 8])]),
    }
    got = contaminated_docs_many(corpus, benches, n=3)
    rows = {(r["doc_id"], r["suite"]): r["n_hits"] for r in got.collect()}
    assert rows == {(1, "a"): 1, (1, "b"): 1}


def test_many_empty_suite_and_report(spark):
    """An empty suite contributes nothing but is recorded on the
    report; the filter is built over the union."""
    from bloomjoin_spark.operators import contaminated_docs_many

    corpus = _docs(spark, [(1, [5, 6, 7])])
    benches = {
        "real": _docs(spark, [(100, [5, 6, 7])]),
        "empty": _docs(spark, [(200, [1, 2])]),  # too short for n=3
    }
    got, rep = contaminated_docs_many(
        corpus, benches, n=3, return_report=True
    )
    rows = {(r["doc_id"], r["suite"]) for r in got.collect()}
    assert rows == {(1, "real")}
    assert rep.n_bench_ngrams == 1
    assert any("'real': 1 distinct" in s for s in rep.notes)
    assert any("'empty': 0 distinct" in s for s in rep.notes)


def test_many_validation(spark):
    from bloomjoin_spark.operators import contaminated_docs_many

    corpus = _docs(spark, [(1, [5, 6, 7])])
    with pytest.raises(ValueError, match="empty"):
        contaminated_docs_many(corpus, {}, n=3)
    with pytest.raises(ValueError, match="suite_col"):
        contaminated_docs_many(
            corpus, {"a": corpus}, n=3, suite_col="doc_id"
        )
    with pytest.raises(ValueError, match="engine"):
        contaminated_docs_many(corpus, {"a": corpus}, engine="warp")


def test_many_all_suites_empty(spark):
    from bloomjoin_spark.operators import contaminated_docs_many

    corpus = _docs(spark, [(1, [5, 6, 7])])
    benches = {"e1": _docs(spark, [(1, [1])]), "e2": _docs(spark, [(2, [2])])}
    got, rep = contaminated_docs_many(
        corpus, benches, n=3, return_report=True
    )
    assert got.count() == 0
    assert rep.engine == "none"
    assert [f.name for f in got.schema.fields] == ["doc_id", "suite", "n_hits"]


def test_decontaminate_many_drops_any_suite_hit(spark):
    from bloomjoin_spark.operators import decontaminate_many

    corpus = _docs(
        spark,
        [(1, [5, 6, 7, 9]), (2, [8, 8, 8, 1]), (3, [2, 3, 4, 5])],
    )
    benches = {
        "a": _docs(spark, [(100, [5, 6, 7])]),
        "b": _docs(spark, [(200, [8, 8, 8]), (201, [7, 9, 2])]),
    }
    kept, rep = decontaminate_many(corpus, benches, n=3, return_report=True)
    assert sorted(r.doc_id for r in kept.collect()) == [3]
    assert rep.n_bench_ngrams == 3  # union of distinct grams


def test_decontam_native_cap_checked_before_build(spark, monkeypatch):
    """An eval suite predicted above the plan-literal cap never runs the
    native build; the output is unchanged."""
    import importlib

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")
    calls = []
    monkeypatch.setattr(bj, "_native_build_filter", lambda *a: calls.append(a))
    monkeypatch.setattr(bj, "_NATIVE_FILTER_CAP_BYTES", 8)
    corpus = _docs(spark, [(1, [1, 2, 3, 4]), (2, [9, 9, 9])])
    bench = _docs(spark, [(900, [2, 3, 4])])
    flagged, rep = contaminated_docs(
        corpus, bench, n=3, engine="auto", return_report=True
    )
    assert calls == []
    assert rep.engine == "bloom"
    assert "predicted native filter" in rep.engine_fallback_reason
    assert sorted(r.doc_id for r in flagged.collect()) == [1]


# ---------------------------------------------------------------------------
# both decontam operators pinned on one fixed input: result rows, report,
# and the Python operators of every frame the call itself collects
# ---------------------------------------------------------------------------

#: sha256 of each case's schema, sorted rows and report, generated before
#: the benchmark n-gram set was sized and built through ``_size_build``
DECONTAM_DIGESTS = {
    "docs_bloom": "c8484f1f7826caa914751b1e5ce5817c541d544c4c945e9677b6ee5d7392df3b",
    "docs_auto": "af4fe2edbd8a562bdfce5869eaefa080d6d5c7b020822d3264461ebeae548c58",
    "docs_words_auto": "a2971eea5530e3bcb5a250beb600fefbcd04d74f40f29a66e1c94372fcaea1d1",
    "docs_empty": "c6c6d8feb00e7f18473fa1ea398cff81ee35b3d8c73e4a04a1cc03084bb6339e",
    "many_bloom": "f02714ae8a1d896d14e13567553d56dbdcf14777d43b32c907ceae79ecc5bea6",
    "many_auto": "32bceed9405afd3de179b01c22933f2331b44348384373b75006f3fd5e4148c2",
    "parquet_docs_bloom": "7a60894f40a76621b2e98d73286c934eb462604825f6693ca1732f7ec0d6db61",
    "parquet_many_bloom": "7510498e4bf85ccebe32f5128662d4c1564686bfbf9d6d12a8fa12f667217aba",
    # the same rows and report as their parent except ``filter_bits``:
    # the set is built on the driver at ``bloom_sizing``'s power-of-two
    # size (the sketch engine's), no longer by ``stat.bloomFilter``
    # (18,496 → 32,768 bits for a; 35,008 → 65,536 for the union)
    "parquet_docs_auto": "88d20a4d19515235ad54c2d0bd32f1a27f1a00bc07ab73f5d7029e821a9f1502",
    "parquet_many_auto": "68ccd7bdddad753bf8e51e55c8a3a948c54367f2bcf91c7db124820701a88109",
}


def _decontam_call(spark, case):
    """``(out, report)`` of one decontam call.  ``parquet_*``: the
    documents table against its ``doc_id % 29 == 3`` (and ``% 31 == 4``)
    docs as word 6-grams, a benchmark side whose plan size is known.
    Otherwise a corpus of three partitions with NULL, empty and short
    documents against Python-local benchmarks, whose plan size is not."""
    from bloomjoin_spark.operators import contaminated_docs_many

    engine = case.rsplit("_", 1)[1]
    if case.startswith("parquet"):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        benches = {"a": docs.where(F.col("doc_id") % 29 == 3),
                   "b": docs.where(F.col("doc_id") % 31 == 4)}
        kw = {"n": 6, "corpus_tokens": words_col(F.col("text")), "engine": engine,
              "return_report": True}
        if case.startswith("parquet_many"):
            return contaminated_docs_many(docs, benches, **kw)
        return contaminated_docs(docs, benches["a"], **kw)
    corpus = _docs(
        spark,
        [(i, [i % 11, (i * 3) % 11, i % 5, 7, i % 13, 2, 3]) for i in range(40)]
        + [(100, None), (101, []), (102, [2, 3]), (103, [4, 9, 2, 3, 4])],
    ).repartition(3)
    benches = {
        "a": _docs(spark, [(900, [7, 3, 9]), (901, [2, 3, 4]), (902, None)]),
        "b": _docs(spark, [(910, [4, 9, 2, 3]), (911, [1, 1])]),
    }
    if case.startswith("many"):
        return contaminated_docs_many(
            corpus, benches, n=3, engine=engine, return_report=True
        )
    if case == "docs_empty":
        return contaminated_docs(corpus, benches["a"].where("doc_id < 0"), n=3,
                                 return_report=True)
    if case == "docs_words_auto":
        text = spark.createDataFrame(
            [(i, f"w{i % 7} the quick brown fox w{i % 3}") for i in range(30)],
            "doc_id bigint, text string",
        )
        return contaminated_docs(
            text, text.where("doc_id < 4"), n=3,
            corpus_tokens=words_col(F.col("text")), return_report=True,
        )
    return contaminated_docs(corpus, benches["a"], n=3, engine=engine,
                             return_report=True)


def decontam_digests(spark, cases=tuple(DECONTAM_DIGESTS)):
    """``{case: sha256}`` of ``_decontam_call``."""
    import hashlib

    out = {}
    for case in cases:
        got, rep = _decontam_call(spark, case)
        rows = sorted(tuple(r) for r in got.collect())
        blob = repr((got.schema.simpleString(), rows, sorted(vars(rep).items())))
        out[case] = hashlib.sha256(blob.encode()).hexdigest()
    return out


@pytest.mark.parametrize("case", list(DECONTAM_DIGESTS))
def test_decontam_results_unchanged(spark, case):
    """Same flagged rows and the same report (engine, exact
    ``n_bench_ngrams``, filter bits, per-suite notes) in every case."""
    assert decontam_digests(spark, [case]) == {case: DECONTAM_DIGESTS[case]}


@pytest.mark.parametrize("case", [c for c in DECONTAM_DIGESTS if c.startswith("parquet")])
def test_decontam_collects_no_python_operator(spark, case):
    """A benchmark n-gram set whose plan size is known small comes back
    in one bounded collect and is built on the driver under either
    engine, as ``bloom_join``'s build side is: no frame the call collects
    or checkpoints plans a Python operator (the sketch engine used to
    build it in a ``MapInArrow`` stage)."""
    import contextlib

    from bloomjoin_spark.plans import plan_audit

    frame = type(spark.range(0))
    seen = []
    with contextlib.ExitStack() as stack:
        for name in ("collect", "toArrow", "toPandas", "localCheckpoint"):
            real = getattr(frame, name)

            def call(self, *a, _real=real, **kw):
                seen.extend(plan_audit(self).python_operators)
                return _real(self, *a, **kw)

            setattr(frame, name, call)
            stack.callback(setattr, frame, name, real)
        _, rep = _decontam_call(spark, case)
    assert rep.n_bench_ngrams > 0
    assert seen == []


@pytest.mark.parametrize("case, cap, bits", [
    # Spark's optimal filter < cap < bloom_sizing's power-of-two one
    ("parquet_docs_auto", 3_000, 18_496),  # 2,328 < 3,000 < 4,112 bytes
    ("parquet_many_auto", 6_000, 35_008),  # 4,392 < 6,000 < 8,208 bytes
])
def test_decontam_native_build_where_only_spark_size_fits(spark, monkeypatch, case, cap, bits):
    """A small n-gram set is built on the driver at a power-of-two size,
    up to twice Spark's optimal size.  Where only Spark's size fits under
    the plan-literal cap, the driver builds Spark's filter (no
    ``stat.bloomFilter`` job) and the probe stays in codegen: the same
    rows, and no Python operator in the output's plan."""
    import importlib

    from bloomjoin_spark.plans import plan_audit

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")
    want = sorted(tuple(r) for r in _decontam_call(spark, case)[0].collect())
    monkeypatch.setattr(bj, "_NATIVE_FILTER_CAP_BYTES", cap)
    real, builds = bj._native_build_filter, []
    monkeypatch.setattr(bj, "_native_build_filter", lambda *a: builds.append(a) or real(*a))
    out, rep = _decontam_call(spark, case)
    assert builds == []
    assert (rep.engine, rep.filter_bits, rep.engine_fallback_reason) == ("native", bits, None)
    assert plan_audit(out).python_operators == []
    assert sorted(tuple(r) for r in out.collect()) == want


@pytest.mark.parametrize("many", [False, True])
def test_decontam_splits_tokens_once_per_node(spark, many):
    """A ``words_col`` token column is split once in each plan node that
    reads it: per document in the probe filter, per candidate in the
    project under the verify explode.  Filter pushdown used to put the
    split back into every window of ``ngram_hashes_col``'s lambda (14
    ``split(`` calls at n=3)."""
    from bloomjoin_spark.operators import contaminated_docs_many

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a, b = docs.where(F.col("doc_id") % 29 == 3), docs.where(F.col("doc_id") % 31 == 4)
    kw = {"n": 3, "corpus_tokens": words_col(F.col("text"))}
    if many:
        out = contaminated_docs_many(docs, {"a": a, "b": b}, **kw)
    else:
        out = contaminated_docs(docs, a, **kw)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    nodes = [line for line in plan.splitlines() if "split(" in line]
    assert [line.count("split(") for line in nodes] == [1, 1]
    assert "Filter" in nodes[1]


#: Spark jobs of a decontam call plus ``collect()`` whose n-gram set is
#: over the small-lane bound (lowered to 500 rows), counted by session tag
OVER_BOUND_JOBS = {"parquet_docs_bloom": 7, "parquet_many_bloom": 10}


@pytest.mark.parametrize("case", list(OVER_BOUND_JOBS))
def test_decontam_gate_reads_exact_gram_count(spark, monkeypatch, case):
    """The small lane's gate reads the exact gram count, not the plan's
    size estimate, which cannot see the explode's expansion: a set over
    the bound runs no bounded collect (``toArrow``) that it would throw
    away, and keeps its rows, report and job count."""
    import importlib

    from conftest import tagged_jobs

    bj = importlib.import_module("bloomjoin_spark.operators.bloom_join")
    dc = importlib.import_module("bloomjoin_spark.operators.decontam")
    for mod in (bj, dc):
        monkeypatch.setattr(mod, "_SMALL_BUILD_ROWS", 500, raising=False)
    frame = type(spark.range(0))
    real, arrows = frame.toArrow, []
    monkeypatch.setattr(frame, "toArrow", lambda self: arrows.append(self) or real(self))
    digest, jobs = tagged_jobs(spark, lambda: decontam_digests(spark, [case]))
    assert arrows == []
    assert digest == {case: DECONTAM_DIGESTS[case]}
    assert jobs <= OVER_BOUND_JOBS[case]
