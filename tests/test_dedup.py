"""Dedup operator tests over the documents table + planted duplicates."""

import pytest
from pyspark.sql import functions as F

from bloomjoin_spark.operators import (
    add_simhash,
    exact_dedup,
    minhash_dedup,
    minhash_dedup_pairs,
    simhash_near_dup_pairs,
    with_shingle_hashes,
)
from conftest import tagged_jobs


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def docs_with_dups(docs):
    # plant exact duplicates: copy 20% of docs under shifted ids
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return docs.unionByName(dups)


def test_exact_dedup_removes_planted_dups(docs, docs_with_dups):
    n_orig = docs.count()
    deduped = exact_dedup(docs_with_dups)
    assert deduped.count() == n_orig
    # survivors are the min-id representatives (originals)
    assert deduped.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_exact_dedup_noop_on_unique(docs):
    assert exact_dedup(docs).count() == docs.count()


def test_shingles_jvm_only(docs):
    sh = with_shingle_hashes(docs, "text", n=3)
    row = sh.select(F.size("shingles").alias("n")).agg(F.min("n"), F.max("n")).first()
    assert row[0] >= 1
    # plan contains no Python evaluation
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_minhash_finds_planted_exact_dups(spark, docs, docs_with_dups):
    # exact dup ⇒ identical signature ⇒ guaranteed candidate in every band
    pairs = minhash_dedup_pairs(
        docs_with_dups, "text", "doc_id", n=3, num_perm=64, bands=8, threshold=0.99
    )
    planted = docs.filter(F.col("doc_id") % 5 == 0).count()
    found = (
        pairs.filter(
            (F.col("id_b") - F.col("id_a") == 1_000_000)
        ).count()
    )
    assert found == planted
    assert pairs.filter(F.col("jaccard") < 0.99).count() == 0


def test_minhash_dedup_end_to_end(docs, docs_with_dups):
    deduped = minhash_dedup(
        docs_with_dups, "text", "doc_id", n=3, num_perm=64, bands=8, threshold=0.99
    )
    # all planted copies removed (min-id representative kept), originals intact
    assert deduped.filter(F.col("doc_id") >= 1_000_000).count() == 0
    assert deduped.count() == docs.count()


def test_simhash_near_dups(spark):
    # identical texts → identical simhash (hamming 0)
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different content about spark and sketches"),
            (4, "the quick brown fox jumps over the lazy cat")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = add_simhash(df)
    vals = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    assert vals[1] == vals[2]
    pairs = simhash_near_dup_pairs(sh, max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_degenerate_lsh_bucket_capped(spark):
    """2,000 identical docs form one degenerate LSH bucket (4M candidate
    pairs uncapped). With a cap the job completes with zero pairs from
    that bucket, and the drop is visible in the report + a warning."""
    import warnings as _w

    from bloomjoin_spark.operators import minhash_dedup_pairs

    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(2_000)]
    rows += [(10_000, "a unique document about owls"), (10_001, "a unique document about owls")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    report = {}
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        pairs = minhash_dedup_pairs(
            docs, "text", "doc_id", n=3, num_perm=32, bands=4,
            threshold=0.9, max_bucket_size=100, dropped_report=report,
        )
        got = pairs.collect()
    assert report["dropped_buckets"] >= 1
    assert report["dropped_bucket_rows"] >= 2_000
    assert any("dropped" in str(w.message) for w in caught)
    # the small bucket still pairs: the owl dup survives the cap
    assert any(r["id_a"] == 10_000 and r["id_b"] == 10_001 for r in got)
    # nothing from the capped boilerplate bucket
    assert all(r["id_a"] >= 10_000 for r in got)


def test_lsh_drop_warns_even_without_report(spark):
    """The oversized-bucket warning must fire for DEFAULT callers (no
    dropped_report): a silent recall regression is never acceptable."""
    import warnings as _w

    from bloomjoin_spark.operators import minhash_dedup_pairs

    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        minhash_dedup_pairs(
            docs, "text", "doc_id", n=3, num_perm=32, bands=4,
            threshold=0.9, max_bucket_size=100,
        ).collect()
    assert any(
        "lsh_candidate_pairs" in str(w.message) and "dropped" in str(w.message)
        for w in caught
    )
    # pipelines that filter warnings detect the drop PROGRAMMATICALLY
    # through the caller's dropped_report dict (no process-global copy:
    # it would race between driver threads)
    report = {}
    with pytest.warns(UserWarning, match="dropped"):
        minhash_dedup_pairs(
            docs, "text", "doc_id", n=3, num_perm=32, bands=4,
            threshold=0.9, max_bucket_size=100, dropped_report=report,
        )
    assert report["dropped_buckets"] >= 1 and report["max_bucket_size"] == 100


def test_degenerate_simhash_bucket_capped(spark):
    """10k identical-simhash docs form one degenerate chunk bucket per
    band (10⁸ candidate pairs uncapped). With the shared guard the job
    completes in bounded time, reports the drop, and unrelated near-dup
    pairs survive."""
    import warnings as _w

    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(10_000)]
    rows += [
        (100_000, "a unique document about owls and night vision"),
        (100_001, "a unique document about owls and night vision"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = add_simhash(docs)
    report = {}
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        pairs = simhash_near_dup_pairs(
            sh, "doc_id", max_hamming=3, max_bucket_size=100,
            dropped_report=report,
        ).collect()
    assert report["dropped_buckets"] >= 1
    assert report["dropped_bucket_rows"] >= 10_000
    assert any("simhash_near_dup_pairs" in str(w.message) for w in caught)
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (100_000, 100_001) in found
    assert all(a >= 100_000 for a, _ in found)


def test_simhash_long_document_batch(spark):
    """Long documents (10k tokens) through the bit-plane SimHash: the
    per-batch memory is one int32 plane, not a (tokens × 64) matrix —
    and near-identical long docs still land at small hamming."""
    from bloomjoin_spark.operators import add_simhash, simhash_near_dup_pairs

    base = " ".join(f"tok{i % 977}" for i in range(10_000))
    variant = base + " extra trailing words here"
    other = " ".join(f"zzz{i % 311}" for i in range(10_000))
    docs = spark.createDataFrame(
        [(1, base), (2, variant), (3, other)], "doc_id long, text string"
    )
    sh = add_simhash(docs)
    pairs = simhash_near_dup_pairs(sh, "doc_id", max_hamming=3).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found


def test_dedup_clusters_converges_min_label(spark):
    from bloomjoin_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


# ---------------------------------------------------------------------------
# exact n-gram Jaccard join (prefix filtering)
# ---------------------------------------------------------------------------

def _brute_force_pairs(spark, df, n, threshold):
    """Ground truth: all-pairs exact Jaccard over the shingle sets."""
    from bloomjoin_spark.operators import jaccard_col, with_shingle_hashes

    sh = with_shingle_hashes(df, "text", n).select("doc_id", "shingles")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(jaccard_col(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


@pytest.mark.parametrize("threshold", [0.5, 0.8, 1.0])
def test_ngram_jaccard_equals_brute_force(spark, threshold):
    """The prefix filter must lose NOTHING: output == all-pairs exact
    Jaccard, at thresholds including the t=1.0 edge (prefix of 1)."""
    from bloomjoin_spark.operators import ngram_jaccard_pairs

    base = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12))) for i in range(40)
    ]
    # planted: near-dup of every 4th doc (append two words), exact dup
    # of every 10th, plus a short (<n words) doc pair
    rows = list(base)
    rows += [(100 + i, t + " tail extra") for i, t in base if i % 4 == 0]
    rows += [(200 + i, t) for i, t in base if i % 10 == 0]
    rows += [(300, "lone pair"), (301, "lone pair")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = ngram_jaccard_pairs(df, threshold=threshold, max_shingle_df=None)
    exp = _brute_force_pairs(spark, df, 3, threshold)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    # sanity: the planted structures actually surface at this threshold
    if threshold == 1.0:
        exact_pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
        assert (0, 200) in exact_pairs and (300, 301) in exact_pairs


def test_ngram_jaccard_threshold_validation(spark):
    from bloomjoin_spark.operators import ngram_jaccard_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        ngram_jaccard_pairs(df, threshold=0.0)
    with pytest.raises(ValueError, match="threshold"):
        ngram_jaccard_pairs(df, threshold=1.5)


def test_ngram_jaccard_bucket_cap_guard(spark):
    """A degenerate prefix bucket (many docs whose rarest shingle is
    shared) trips the shared guard: warning + the dropped_report dict."""
    from bloomjoin_spark.operators import ngram_jaccard_pairs

    rows = [(i, "same boilerplate line everywhere") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    report = {}
    with pytest.warns(UserWarning, match="dropped"):
        got = ngram_jaccard_pairs(
            df, threshold=0.9, max_shingle_df=10, dropped_report=report
        )
    assert got.count() == 0  # every candidate lived in the dropped bucket
    assert report["dropped_buckets"] >= 1 and report["max_bucket_size"] == 10


def test_ngram_jaccard_dedup_keeps_min_id(spark):
    """Full exact near-dup dedup: clusters collapse to the min-id
    representative (same keep rule as exact_dedup/minhash_dedup)."""
    from bloomjoin_spark.operators import ngram_jaccard_dedup

    # per-doc-unique tokens: base docs share NO shingles with each
    # other, only with their planted tail variants
    base = [
        (i, " ".join(f"d{i}w{j}" for j in range(12))) for i in range(30)
    ]
    rows = base + [(100 + i, t + " tiny tail") for i, t in base if i % 3 == 0]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = ngram_jaccard_dedup(df, threshold=0.6, max_shingle_df=None)
    ids = sorted(r.doc_id for r in kept.collect())
    # every planted near-dup (id >= 100) lost to its base doc
    assert all(i < 100 for i in ids)
    assert len(ids) == len(base)


def test_ngram_jaccard_plan_shape(spark, sf_dir, monkeypatch):
    """Plan audit: the whole exact-Jaccard join runs JVM-side (no
    Python eval anywhere) and the parquet scan is pruned to
    (doc_id, text) even on a wider table.

    The operator returns an eagerly localCheckpointed frame whose
    executed plan is just `Scan ExistingRDD` (round-5 review caught
    the naive version of this test passing vacuously) — so
    localCheckpoint is identity-patched here to expose the full
    lineage, and the scan assertion REQUIRES at least one parquet
    ReadSchema to prove it inspected the real job."""
    import re

    # patch the CLASSIC DataFrame class — the abstract
    # pyspark.sql.DataFrame base's methods are overridden there, so
    # patching the base has no effect on classic-session frames
    from pyspark.sql.classic.dataframe import DataFrame

    from bloomjoin_spark.operators import ngram_jaccard_pairs

    monkeypatch.setattr(DataFrame, "localCheckpoint",
                        lambda self, eager=True: self)
    # persist would hide the parquet scan behind InMemoryTableScan
    monkeypatch.setattr(DataFrame, "persist", lambda self, *a, **k: self)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert scans, f"no parquet scan found — vacuous plan: {plan[:400]}"
    for s in scans:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text"}, f"unpruned scan: {cols}"


def test_ngram_jaccard_exact_threshold_boundary(spark):
    """Round-5 review regression: a pair sitting EXACTLY at the
    threshold (J = 55/100 = t = 0.55, where 0.55*100 rounds to
    55.000000000000001 in doubles) must survive both the prefix-length
    and the length-filter pruning — the epsilon-relaxed predicates may
    only ever ADMIT candidates."""
    from bloomjoin_spark.operators import ngram_jaccard_pairs

    # doc 1: 57 words -> 55 distinct trigrams, a strict subset of
    # doc 2's: J = 55/100 exactly
    words_a = [f"w{j}" for j in range(57)]
    words_b = [f"w{j}" for j in range(102)]
    df = spark.createDataFrame(
        [(1, " ".join(words_a)), (2, " ".join(words_b))],
        "doc_id long, text string",
    )
    got = ngram_jaccard_pairs(df, threshold=0.55, max_shingle_df=None)
    rows = [(r["id_a"], r["id_b"], r["jaccard"]) for r in got.collect()]
    assert rows == [(1, 2, 0.55)]


def test_simhash_dedup_keeps_min_id(spark):
    """SimHash dedup tier: identical texts (hamming 0) collapse to the
    min-id representative; the temp simhash column stays internal."""
    from bloomjoin_spark.operators import simhash_dedup

    rows = [(i, f"unique document number {i} about topic {i}") for i in range(10)]
    rows += [(100 + i, t) for i, t in rows[:10] if i % 2 == 0]  # exact copies
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = simhash_dedup(df, max_hamming=3)
    ids = sorted(r.doc_id for r in kept.collect())
    assert all(i < 100 for i in ids) and len(ids) == 10
    assert kept.columns == ["doc_id", "text"]


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs historical corpus)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def hist_and_batch(docs):
    """history = doc_id % 10 != 0; batch = the % 10 == 0 docs (new) +
    copies of history docs under shifted ids (cross-batch dups) + a
    second copy of one new doc (within-batch dup)."""
    history = docs.filter(F.col("doc_id") % 10 != 0)
    fresh = docs.filter(F.col("doc_id") % 10 == 0)
    cross = (
        docs.filter(F.col("doc_id") % 10 == 1)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
    )
    within = fresh.limit(1).withColumn("doc_id", F.col("doc_id") + 3_000_000)
    return history, fresh.unionByName(cross).unionByName(within), fresh

def test_incremental_dedup_keeps_only_new(hist_and_batch):
    from bloomjoin_spark.operators import IncrementalDedupReport, incremental_dedup

    history, batch, fresh = hist_and_batch
    rep = IncrementalDedupReport()
    out = incremental_dedup(batch, history, report=rep)
    # exactly the fresh docs survive: cross-batch dups are in history,
    # the within-batch extra copy loses to its min-id original
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    expect = sorted(r["doc_id"] for r in fresh.select("doc_id").collect())
    assert kept == expect
    n_cross = batch.filter(F.col("doc_id") >= 2_000_000).count() - 1
    assert rep.n_batch == batch.count()
    assert rep.n_within_dups == 1
    assert rep.n_cross_dups == n_cross
    assert rep.n_definite_new + rep.n_candidates == rep.n_batch - rep.n_within_dups
    # in-call lane: no history filter, every representative is verified
    assert rep.n_candidates == rep.n_batch - rep.n_within_dups
    assert not rep.filter_provided


def test_incremental_dedup_job_count(spark, docs):
    """An in-call ingest builds no history filter: the representatives'
    checkpoint (its job also yields the counters), the verify join's
    candidate-side filter (one bounded collect, built on the driver), the
    verified rows' checkpoint (its job counts them) and one action fit
    in 8 Spark jobs (20 with a history-side filter).
    The batch avoids ``limit``, whose single-partition exchange would
    add a job of its own."""
    from bloomjoin_spark.operators import IncrementalDedupReport, incremental_dedup

    history = docs.filter(F.col("doc_id") % 10 != 0)
    fresh = docs.filter(F.col("doc_id") % 10 == 0)
    cross = (
        docs.filter(F.col("doc_id") % 10 == 1)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
    )
    within = (
        fresh.filter(F.col("doc_id") % 100 == 0)
        .withColumn("doc_id", F.col("doc_id") + 3_000_000)
    )
    batch = fresh.unionByName(cross).unionByName(within)
    rep = IncrementalDedupReport()
    kept, n_jobs = tagged_jobs(
        spark, lambda: incremental_dedup(batch, history, report=rep).select("doc_id").collect()
    )
    assert 0 < n_jobs <= 8, n_jobs
    assert len(kept) == fresh.count()
    assert rep.n_within_dups == within.count()
    assert rep.n_candidates == rep.n_batch - rep.n_within_dups
    assert rep.n_cross_dups == cross.count()


def test_incremental_dedup_engine_dispatch(hist_and_batch):
    """With no history filter the report carries the verify join's
    engine, which is the all-JVM native one (no Python sketch build, no
    ArrowEvalPython probe); a provided filter keeps the mergeable
    sketch engine.  Both lanes produce identical output (the verify
    join removes every filter false positive; misses are exact under
    any Bloom filter).

    The ``rep.engine == "native"`` assertion is an intentional canary:
    the native probe needs Spark's private ``BloomFilterMightContain``
    API, and when a Spark upgrade drifts that API the library degrades
    to the sketch engine by design — this test is what makes the drift
    visible."""
    from bloomjoin_spark.operators import (
        IncrementalDedupReport,
        build_history_filter,
        incremental_dedup,
    )

    history, batch, _ = hist_and_batch
    rep = IncrementalDedupReport()
    out = incremental_dedup(batch, history, report=rep)
    assert rep.engine == "native"
    assert rep.engine_fallback_reason is None
    rep2 = IncrementalDedupReport()
    bf = build_history_filter(history)
    out2 = incremental_dedup(batch, history, history_filter=bf, report=rep2)
    assert rep2.engine == "bloom" and rep2.filter_provided
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    kept2 = sorted(r["doc_id"] for r in out2.select("doc_id").collect())
    assert kept == kept2


def test_incremental_dedup_with_prebuilt_checkpointed_filter(hist_and_batch, tmp_path):
    from bloomjoin_spark.operators import (
        IncrementalDedupReport,
        build_history_filter,
        incremental_dedup,
    )

    history, batch, fresh = hist_and_batch
    ckpt = str(tmp_path / "hist_filter_ckpt")
    bf = build_history_filter(history, checkpoint_dir=ckpt)
    # resume path: rebuilding from the checkpoint yields the same filter
    bf2 = build_history_filter(history, checkpoint_dir=ckpt)
    assert (bf.words == bf2.words).all()
    rep = IncrementalDedupReport()
    out = incremental_dedup(batch, history, history_filter=bf, report=rep)
    assert out.count() == fresh.count()
    assert rep.filter_provided


def test_build_history_filter_sizing_covers_exact_distinct(spark):
    """The unhinted sizing pass must not undersize the filter: m is at
    least the closed-form size for the EXACT distinct fingerprint count,
    so an approx_count_distinct estimate that runs low cannot raise the
    effective fpp.  On these 2000 fingerprints the default-rsd estimate
    reads 6% low, which at these fpp targets halves m without the
    rsd=0.02 estimate and its 1.05 margin."""
    from bloomjoin_spark.operators import build_history_filter
    from bloomjoin_spark.sketches.bloom import bloom_sizing

    n = 2000
    history = spark.range(n).select(
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text")
    )
    for fpp in (0.016, 3e-4):
        bf = build_history_filter(history, fpp=fpp)
        assert bf.m >= bloom_sizing(n, fpp)[0], fpp


def test_incremental_dedup_empty_history(docs):
    from bloomjoin_spark.operators import incremental_dedup

    history = docs.limit(0)
    out = incremental_dedup(docs, history)
    assert out.count() == docs.count()


# ---------------------------------------------------------------------------
# every call that materializes a frame and counts it, pinned: the rows and
# report of incremental_dedup in each lane, and dedup_clusters' iterative
# lane
# ---------------------------------------------------------------------------

#: sha256 of each site's sorted rows and report, generated before the
#: counters rode the job that materializes
COUNTER_SITE_DIGESTS = {
    "incremental_dedup": "64d39530c20d50d9056fba51441f7f613c2898b65770663dc6d5f4e9aec554f6",
    "incremental_dedup_filter": "70e49b3782c9e3080ee5a3e984201cce205ad7df9ba15ee85b629a2a78230d10",
    "incremental_dedup_checkpoint": "fb6fe78da7bb95b8c326b4fdfd5014ff3020e3736997b3f47c572f87b2ccdff1",
    "clusters_iterative": "cbced7f4acda9a726a0095790b5b5003d532e035f68560198138c5fc3a5e3515",
    "clusters_max_iter": "16186ff549ca73e9cfd51d42f9a1ae1ab3da7f5fa2c6c44cc0515f031e3784a9",
}


def _counter_site(spark, site, tmp):
    """Sorted result rows plus report fields of one ``site`` call."""
    from bloomjoin_spark.operators import (
        IncrementalDedupReport,
        build_history_filter,
        incremental_dedup,
    )
    from bloomjoin_spark.operators.dedup import dedup_clusters

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    def texts(rs):
        return spark.createDataFrame(rs, "doc_id bigint, text string").repartition(3)

    if site.startswith("clusters"):
        edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (20, 21),
                 (20, 22), (30, 32), (31, 32), (40, 41), (41, 42), (42, 40)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long").repartition(2)
        max_iter = 1 if site == "clusters_max_iter" else 10
        return rows(dedup_clusters(pairs, max_iter=max_iter, driver_max_edges=0))
    history = texts([(i, f"Doc {i % 150}  ") for i in range(200)])
    batch = texts(
        [(1_000 + i, f"doc {i}") for i in range(140, 170)]
        + [(2_000, "doc 160"), (2_001, "  DOC 5"), (2_002, "new one"),
           (2_003, "new one")]
    )
    kw = {}
    if site == "incremental_dedup_filter":
        kw["history_filter"] = build_history_filter(history)
    elif site == "incremental_dedup_checkpoint":
        kw["checkpoint_dir"] = f"{tmp}/history_filter"
    rep = IncrementalDedupReport()
    out = incremental_dedup(batch, history, report=rep, **kw)
    return rows(out) + [tuple(getattr(rep, f) for f in (
        "n_batch", "n_within_dups", "n_definite_new", "n_candidates",
        "n_cross_dups", "filter_provided", "engine", "engine_fallback_reason",
    ))]


def counter_site_digests(spark, sites=tuple(COUNTER_SITE_DIGESTS)):
    """``{site: sha256}`` of ``_counter_site``."""
    import hashlib
    import tempfile

    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        for site in sites:
            got = _counter_site(spark, site, tmp)
            out[site] = hashlib.sha256(repr(got).encode()).hexdigest()
    return out


@pytest.mark.parametrize("site", list(COUNTER_SITE_DIGESTS))
def test_counter_site_results_unchanged(spark, site):
    """incremental_dedup keeps its rows and every report field in the
    in-call, provided-filter and checkpointed-filter lanes, and the
    iterative dedup_clusters lane its labels, converged or cut at
    ``max_iter``."""
    assert counter_site_digests(spark, [site]) == {site: COUNTER_SITE_DIGESTS[site]}


# ---------------------------------------------------------------------------
# containment (asymmetric, doc-in-doc) similarity join
# ---------------------------------------------------------------------------

def _brute_force_containment(spark, df, n, threshold):
    """Ground truth: all ORDERED pairs' exact one-sided containment."""
    from bloomjoin_spark.operators import with_shingle_hashes

    sh = with_shingle_hashes(df, "text", n).select("doc_id", "shingles")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(inter.cast("double") / F.size("sh_a").cast("double"), 6)
            .alias("containment"),
            F.size("sh_a").alias("len_a"),
            F.size("sh_b").alias("len_b"),
        )
        .filter(F.col("containment") >= threshold)
    )


@pytest.mark.parametrize("threshold", [0.6, 0.9, 1.0])
def test_containment_equals_brute_force(spark, threshold):
    """The one-sided prefix filter must lose NOTHING: output ==
    all-ordered-pairs exact containment, including the t=1.0 edge
    (prefix of 1) and both directions of asymmetric pairs."""
    from bloomjoin_spark.operators import containment_pairs

    # long "pages" with per-doc-unique vocab + a shared-word backdrop
    base = [
        (i, " ".join(f"p{i}w{j}" if j % 3 else f"shared{j % 7}"
                     for j in range(30)))
        for i in range(25)
    ]
    rows = list(base)
    # planted excerpts: words 5..16 of every 3rd page — containment ≈ 1
    # toward the page, Jaccard far below any useful threshold
    rows += [
        (100 + i, " ".join(t.split()[5:17])) for i, t in base if i % 3 == 0
    ]
    # exact dup pair (containment 1.0 both directions)
    rows += [(200, base[1][1]), ]
    # short-doc (<n words) identical pair — whole-text fallback domain
    rows += [(300, "tiny pair"), (301, "tiny pair")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = containment_pairs(df, threshold=threshold, max_shingle_df=None)
    exp = _brute_force_containment(spark, df, 3, threshold)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    # the planted excerpt surfaces toward its page at every threshold...
    assert (100, 0) in pairs
    # ...but never the reverse direction (a page is not inside its excerpt)
    assert (0, 100) not in pairs
    if threshold == 1.0:
        assert (200, 1) in pairs and (1, 200) in pairs
        assert (300, 301) in pairs and (301, 300) in pairs


def test_containment_threshold_validation(spark):
    from bloomjoin_spark.operators import containment_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        containment_pairs(df, threshold=0.0)
    with pytest.raises(ValueError, match="threshold"):
        containment_pairs(df, threshold=1.5)


def test_containment_bucket_cap_guard(spark):
    from bloomjoin_spark.operators import containment_pairs

    rows = [(i, "same boilerplate line everywhere again") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    report = {}
    with pytest.warns(UserWarning, match="dropped"):
        got = containment_pairs(
            df, threshold=0.9, max_shingle_df=10, dropped_report=report
        )
    assert got.count() == 0
    assert report["dropped_buckets"] >= 1 and report["max_bucket_size"] == 10


def test_containment_dedup_drops_excerpts_keeps_pages(spark):
    """Deterministic keep rule: every excerpt drops (contained in a
    strictly larger page); pages survive even though each 'contains'
    nothing; equal-size exact dups keep the min id."""
    from bloomjoin_spark.operators import containment_dedup

    base = [
        (i, " ".join(f"q{i}w{j}" for j in range(20))) for i in range(20)
    ]
    rows = list(base)
    rows += [(100 + i, " ".join(t.split()[4:14])) for i, t in base if i % 4 == 0]
    rows += [(200, base[2][1])]  # exact dup of doc 2 (equal size)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  containment_dedup(df, threshold=0.9).collect())
    assert kept == sorted(i for i, _ in base)  # excerpts + dup 200 gone


def test_containment_plan_shape(spark, sf_dir, monkeypatch):
    """JVM-only plan, parquet scan pruned to (doc_id, text)."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    from bloomjoin_spark.operators import containment_pairs

    monkeypatch.setattr(DataFrame, "localCheckpoint",
                        lambda self, eager=True: self)
    monkeypatch.setattr(DataFrame, "persist", lambda self, *a, **k: self)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = containment_pairs(docs, "text", "doc_id", threshold=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert scans, f"no parquet scan found — vacuous plan: {plan[:400]}"
    for s in scans:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text"}, f"unpruned scan: {cols}"


# ---------------------------------------------------------------------------
# LSH banding planner (S-curve error minimization)
# ---------------------------------------------------------------------------

def test_lsh_plan_tracks_threshold():
    """Higher thresholds need steeper curves: fewer bands / more rows,
    and the chosen curve's inflection should sit near the threshold."""
    from bloomjoin_spark.operators import lsh_plan

    plans = [lsh_plan(t) for t in (0.5, 0.7, 0.9)]
    assert plans[0].bands > plans[1].bands > plans[2].bands
    assert plans[0].rows < plans[1].rows < plans[2].rows
    for t, p in zip((0.5, 0.7, 0.9), plans):
        assert abs(p.midpoint - t) < 0.1
        assert p.bands * p.rows <= p.num_perm
        assert p.rows == p.num_perm // p.bands


def test_lsh_plan_fn_weight_buys_recall():
    """Weighting false negatives harder must not increase fn_area."""
    from bloomjoin_spark.operators import lsh_plan

    neutral = lsh_plan(0.8, fn_weight=1.0)
    recall = lsh_plan(0.8, fn_weight=10.0)
    assert recall.fn_area <= neutral.fn_area


def test_lsh_plan_beats_default_at_off_design_threshold():
    """The planner's whole point: at t=0.9 the chosen banding has
    strictly less total S-curve error than the fixed 16-band default."""
    from bloomjoin_spark.operators import lsh_plan, lsh_plan_table

    table = {b: (fp, fn) for b, r, fp, fn in lsh_plan_table(0.9)}
    chosen = lsh_plan(0.9)
    fp16, fn16 = table[16]
    assert chosen.fp_area + chosen.fn_area < fp16 + fn16


def test_lsh_plan_validation():
    from bloomjoin_spark.operators import lsh_plan_table

    with pytest.raises(ValueError, match="threshold"):
        lsh_plan_table(1.5)
    with pytest.raises(ValueError, match="threshold"):
        lsh_plan_table(0.0)
    with pytest.raises(ValueError, match="num_perm"):
        lsh_plan_table(0.5, num_perm=0)


def test_lsh_plan_exact_threshold_picks_one_band():
    """t=1.0 is legal (the sibling joins' (0, 1] domain): fn_area is 0
    for every candidate, so the argmin is pure fp minimization — the
    1-band full-signature plan (only identical signatures collide)."""
    from bloomjoin_spark.operators import lsh_plan

    p = lsh_plan(1.0)
    assert p.bands == 1 and p.rows == p.num_perm
    assert p.fn_area == 0.0


def test_minhash_auto_bands_finds_planted_dups(spark, docs, docs_with_dups):
    """bands='auto' end to end: exact dups (identical signatures) must
    all surface regardless of which banding the planner picked."""
    pairs = minhash_dedup_pairs(
        docs_with_dups, "text", "doc_id",
        num_perm=64, bands="auto", threshold=0.9,
    )
    planted = docs.filter(F.col("doc_id") % 5 == 0).count()
    found = pairs.filter(F.col("id_b") - F.col("id_a") == 1_000_000).count()
    assert found == planted


def test_minhash_bands_type_validation(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_dedup_pairs(df, bands="al gusto")
    # bool is an int subclass: bands=True would silently run a 1-band
    # full-signature LSH that misses every non-identical near-dup
    with pytest.raises(ValueError, match="bands"):
        minhash_dedup_pairs(df, bands=True)


@pytest.mark.parametrize("call", [
    "minhash_bands_0", "minhash_bands_over_num_perm", "lsh_bands_0",
    "simhash_max_hamming_64", "embedding_bands_over_nbits",
    "ann_lsh_bands_over_nbits",
])
def test_band_count_validated(spark, call):
    """A band needs at least one signature value or bit: with more bands
    than that, every row hashes the empty slice into one shared bucket
    per band, so the cap drops everything (and, uncapped, the self-join
    is O(n²)).  Each banding raises up front instead."""
    from bloomjoin_spark import operators as ops

    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])], "vec_id long, embedding array<double>"
    )
    calls = {
        "minhash_bands_0": lambda: ops.minhash_dedup_pairs(docs, bands=0),
        "minhash_bands_over_num_perm": lambda: ops.minhash_dedup_pairs(
            docs, num_perm=8, bands=16, max_bucket_size=100
        ),
        "lsh_bands_0": lambda: ops.lsh_candidate_pairs(
            ops.add_minhash_signature(ops.with_shingle_hashes(docs), num_perm=8),
            bands=0,
        ),
        "simhash_max_hamming_64": lambda: ops.simhash_near_dup_pairs(
            ops.add_simhash(docs), max_hamming=64
        ),
        "embedding_bands_over_nbits": lambda: ops.embedding_near_dup_pairs(
            vecs, nbits=8, bands=16
        ),
        "ann_lsh_bands_over_nbits": lambda: ops.ann_lsh_topk(
            vecs, vecs.withColumnRenamed("vec_id", "query_id"), nbits=8, bands=16
        ),
    }
    with pytest.raises(ValueError, match="bands"):
        calls[call]().collect()


def test_lsh_bands_over_signature_length_fail_the_action(spark):
    """``lsh_candidate_pairs`` called directly with more bands than
    signature values fails its action (a ``raise_error`` inside the
    band expression) instead of hashing every row into one bucket per
    band, where the cap dropped everything and the call returned no
    pair.  A NULL signature does not raise."""
    from bloomjoin_spark import operators as ops

    rows = [(i, " ".join(f"w{i % 7}x{j}" for j in range(8))) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = ops.add_minhash_signature(
        ops.with_shingle_hashes(docs).select("doc_id", "shingles"), num_perm=8
    )
    with pytest.raises(Exception, match="leave a band with no value"):
        ops.lsh_candidate_pairs(sig, bands=16, max_bucket_size=100).collect()
    nulls = sig.unionByName(spark.createDataFrame([(999, None)], sig.schema))
    got = ops.lsh_candidate_pairs(nulls, bands=8, max_bucket_size=100).collect()
    assert got and all(999 not in (r.id_a, r.id_b) for r in got)


# ---------------------------------------------------------------------------
# every near-dup operator pinned on one fixed input: result rows, drop
# reports and Spark jobs per call
# ---------------------------------------------------------------------------

NEAR_DUP_CAP = 10


def _near_dup_rows():
    """(doc_id, text, embedding) rows: 24 pages with per-page vocabulary
    and random vectors, planted near-dups of them (tail variants with a
    nudged vector, exact copies, excerpts with their own vector) and a
    30-doc boilerplate cohort with one text and one vector, which every
    operator's cap of ``NEAR_DUP_CAP`` drops."""
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((24, 16))
    pages = {i: " ".join(f"d{i}w{j}" for j in range(30)) for i in range(24)}
    rows = [(i, t, vecs[i]) for i, t in pages.items()]
    rows += [(100 + i, pages[i] + " tail extra", vecs[i] + 1e-3 * rng.standard_normal(16))
             for i in range(0, 24, 4)]
    rows += [(200 + i, pages[i], vecs[i]) for i in range(0, 24, 6)]
    rows += [(300 + i, " ".join(pages[i].split()[5:20]), rng.standard_normal(16))
             for i in range(0, 24, 3)]
    rows += [(400 + i, "the same boilerplate footer line on every single page", np.ones(16))
             for i in range(30)]
    return [(i, t, [float(x) for x in v]) for i, t, v in rows]


def _near_dup_frame(spark):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(_near_dup_rows(), 3),
        "doc_id long, text string, embedding array<double>",
    )


def _near_dup_call(df, op, report):
    """The frame one near-dup operator returns over ``df`` at the cap."""
    from bloomjoin_spark import operators as ops

    cap = {"max_bucket_size": NEAR_DUP_CAP, "dropped_report": report}
    shingle_cap = {"max_shingle_df": NEAR_DUP_CAP, "dropped_report": report}
    if op == "lsh_candidate_pairs":
        sh = ops.with_shingle_hashes(df).select("doc_id", "shingles")
        return ops.lsh_candidate_pairs(ops.add_minhash_signature(sh), **cap)
    if op == "simhash_near_dup_pairs":
        return ops.simhash_near_dup_pairs(ops.add_simhash(df.select("doc_id", "text")), **cap)
    if op in ("embedding_near_dup_pairs", "embedding_dedup"):
        return getattr(ops, op)(df.select("doc_id", "embedding"), "doc_id", "embedding", **cap)
    if op.startswith(("ngram_jaccard", "containment")):
        return getattr(ops, op)(df.select("doc_id", "text"), **shingle_cap)
    return getattr(ops, op)(df.select("doc_id", "text"), **cap)


#: sha256 of each operator's schema, sorted rows (kept ids for a
#: ``*_dedup`` wrapper) and drop report, generated before every near-dup
#: candidate set came from one bucket self-join
NEAR_DUP_DIGESTS = {
    "lsh_candidate_pairs": "52b87fb2acd666022af34843de8ad6d65eae8d62a224c220f4ff428f03e01c6d",
    "minhash_dedup_pairs": "602949fbd97644f81a026aca1451d9f7fb4cd51620c62e8ca659c14da58c58d7",
    "simhash_near_dup_pairs": "6345cc79c9557cd81ba9e2358767e7d0791d713e9b8d417279ed623157ac238f",
    "ngram_jaccard_pairs": "1c23c0f18d1c510b925b15ed04d0faee7d45a45e89e9cbd1256a7daa477c9668",
    "containment_pairs": "cd6997f3442cd35beba93560d3b2f6cffd88533ee2e482e3ee455807ced7caf0",
    "embedding_near_dup_pairs": "119910fd04107d8343f8602602c76c573020c34d1af1c2b98268897e7506603b",
    "minhash_dedup": "84274d891186769a027a8c1ecd83f787366c77ef9311dbaaa43ef0e7c50ca515",
    "simhash_dedup": "38147b8e3b3b186fd6e32ac99e63d6a0364059806082f3bf6fb5f0956cc49e63",
    "ngram_jaccard_dedup": "f372f5600b2e0cc01b1a278e8cf65917aa0138391d88460afabe6073762aa401",
    "containment_dedup": "4aa4d01992e23385609af285edc8eace9a19f1d0ac6985a75d9ee71214d9edb7",
    "embedding_dedup": "1ef326fad38a45ac7e44d6dc2b72b177d215dbbd1d7fde157b82b8c892d8fdc9",
}


def near_dup_digests(spark, ops=tuple(NEAR_DUP_DIGESTS)):
    """``{op: sha256}`` over ``_near_dup_frame``."""
    import hashlib
    import warnings

    df = _near_dup_frame(spark)
    out = {}
    for op in ops:
        report = {}
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            res = _near_dup_call(df, op, report)
            rows = res.select("doc_id") if op.endswith("_dedup") else res
            got = sorted(map(tuple, rows.collect()))
        blob = repr((res.schema.simpleString(), got, sorted(report.items())))
        out[op] = hashlib.sha256(blob.encode()).hexdigest()
    return out


@pytest.mark.parametrize("op", list(NEAR_DUP_DIGESTS))
def test_near_dup_results_unchanged(spark, op):
    """Every near-dup operator returns the same columns, rows and drop
    report: the planted pairs, and nothing from the capped cohort."""
    assert near_dup_digests(spark, [op]) == {op: NEAR_DUP_DIGESTS[op]}


#: Spark jobs of one pair-operator call plus ``collect()`` on
#: ``_near_dup_rows()``, counted before the candidate sets shared one
#: bucket self-join
NEAR_DUP_JOBS = {
    "lsh_candidate_pairs": 9,
    "minhash_dedup_pairs": 12,
    "simhash_near_dup_pairs": 9,
    "ngram_jaccard_pairs": 17,
    "containment_pairs": 16,
    "embedding_near_dup_pairs": 9,
}


def near_dup_jobs(spark, op):
    """Jobs of one ``op`` call plus its ``collect()``, counted by session
    tag."""
    import warnings

    df = _near_dup_frame(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        return tagged_jobs(spark, lambda: _near_dup_call(df, op, {}).collect())[1]


@pytest.mark.parametrize("op", list(NEAR_DUP_JOBS))
def test_near_dup_jobs_per_call(spark, op):
    """No near-dup pair operator pays a new fixed per-call job.  Adaptive
    execution now and then runs one more stage job (containment read 17
    once in 24 calls when these counts were taken), so a count that
    differs is taken again and the fewer of the two must match."""
    n = near_dup_jobs(spark, op)
    if n != NEAR_DUP_JOBS[op]:
        n = min(n, near_dup_jobs(spark, op))
    assert n == NEAR_DUP_JOBS[op]
