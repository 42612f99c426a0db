"""Two-phase aggregation harness tests: partial/merge equivalence,
tree-merge depth, checkpointed resume (north rule: per-partition
lineage + resumability)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomjoin_spark import BloomSketch, build_sketch
from bloomjoin_spark.hashing import hash_int64


def test_distributed_build_equals_local(spark):
    n = 20_000
    df = spark.range(0, n).repartition(8).select(F.col("id").cast("long").alias("k"))
    res = build_sketch(df, factory=lambda: BloomSketch(n, 0.01), cols=["k"])
    assert res.n_rows == n
    assert res.n_partitions == 8
    # zero false negatives through the distributed path
    import pandas as pd

    from bloomjoin_spark.hashing import hash_series

    h = hash_series(pd.Series(np.arange(n, dtype=np.int64)))
    assert res.sketch.contains_hashes(h).all()
    # disjoint probes mostly rejected
    h2 = hash_series(pd.Series(np.arange(n, 2 * n, dtype=np.int64)))
    assert res.sketch.contains_hashes(h2).mean() < 0.02 + 0.01


def test_tree_merge_multiple_rounds(spark):
    n = 5000
    df = spark.range(0, n).repartition(40).select(F.col("id").alias("k"))
    res = build_sketch(df, factory=lambda: BloomSketch(n, 0.01), cols=["k"], fanin=8)
    assert res.n_partitions == 40
    assert res.merge_rounds >= 1
    # same bits as a flat build
    flat = build_sketch(
        df.coalesce(1), factory=lambda: BloomSketch(n, 0.01), cols=["k"], fanin=64
    )
    assert np.array_equal(res.sketch.words, flat.sketch.words)


def test_merge_order_invariance(spark):
    # different partitionings → identical final bitset
    n = 10_000
    base = spark.range(0, n).select(F.col("id").alias("k"))
    a = build_sketch(base.repartition(3), lambda: BloomSketch(n, 0.01), cols=["k"])
    b = build_sketch(base.repartition(17), lambda: BloomSketch(n, 0.01), cols=["k"], fanin=4)
    assert np.array_equal(a.sketch.words, b.sketch.words)


def test_checkpoint_resume(spark, tmp_path):
    n = 8000
    ckpt = str(tmp_path / "sketch_ckpt")
    df = spark.range(0, n).repartition(6).select(F.col("id").alias("k"))
    r1 = build_sketch(df, lambda: BloomSketch(n, 0.01), cols=["k"], checkpoint_dir=ckpt)
    # resume: all partitions done → no recompute, same sketch
    r2 = build_sketch(df, lambda: BloomSketch(n, 0.01), cols=["k"], checkpoint_dir=ckpt)
    assert np.array_equal(r1.sketch.words, r2.sketch.words)
    assert r2.n_rows == n
    # lineage rows exist per partition
    lineage = spark.read.parquet(ckpt)
    assert lineage.select("partition_id").distinct().count() == 6
    assert set(lineage.columns) >= {"partition_id", "n_rows", "fingerprint", "blob"}


def test_checkpoint_hash_format_guard(spark, tmp_path):
    """Every checkpoint partial carries the per-row hash-format stamp.  A
    same-version resume is silent and runs the jobs it ran before the
    stamp moved into the rows.  A dir holding a row of another hash
    format, or a row without a stamp, is rebuilt with a warning, never
    merged: partition 0's row is kept with an empty filter as its blob,
    so merging it would drop that partition's keys.  The rebuild equals
    a fresh build byte for byte and leaves every row stamped current."""
    import warnings as W

    from bloomjoin_spark.hashing import foreign_hash_format
    from conftest import tagged_jobs

    n = 2000
    ckpt = str(tmp_path / "fmt_ckpt")
    df = spark.range(0, n).repartition(3).select(F.col("id").alias("k"))

    def build():
        return build_sketch(df, lambda: BloomSketch(n, 0.01), cols=["k"],
                            checkpoint_dir=ckpt)

    def foreign_stamps():
        rows = spark.read.parquet(ckpt)
        return {r[0] for r in rows.select(foreign_hash_format(rows)).collect()}

    fresh = build_sketch(df, lambda: BloomSketch(n, 0.01), cols=["k"]).sketch.to_bytes()
    build()
    assert foreign_stamps() == {None}
    with W.catch_warnings():  # errors only on OUR warnings: py4j emits
        W.simplefilter("error", UserWarning)  # unrelated ResourceWarnings
        res, n_jobs = tagged_jobs(spark, build)
    assert n_jobs == 9
    assert res.sketch.to_bytes() == fresh

    empty = BloomSketch(n, 0.01).to_bytes()
    for stamp, shown in ((F.lit(1).cast("long"), r"\[1\]"), (None, r"\[None\]")):
        kept = spark.read.parquet(ckpt).where(F.col("partition_id") == 0)
        kept = spark.createDataFrame(kept.collect(), kept.schema)
        kept = kept.withColumn("blob", F.lit(empty))
        kept = kept.drop("hash_format") if stamp is None else kept.withColumn("hash_format", stamp)
        kept.write.mode("overwrite").parquet(ckpt)
        with pytest.warns(UserWarning, match=rf"hash format\(s\) {shown}.*rebuilding"):
            res = build()
        assert res.sketch.to_bytes() == fresh and res.n_rows == n
        assert foreign_stamps() == {None}
        assert spark.read.parquet(ckpt).count() == 3


def test_checkpoint_with_legacy_bloom_partials_is_rebuilt(spark, tmp_path):
    """A checkpoint dir holding Bloom partials of the previous bit layout
    (BLM2, splitmix64 positions) is rebuilt, never merged: the resumed
    sketch equals a fresh build and every stored partial is rewritten in
    the current layout."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from bloomjoin_spark.sketches.base import Sketch

    n = 8000
    ckpt = str(tmp_path / "legacy_ckpt")
    df = spark.range(0, n).repartition(2).select(F.col("id").alias("k"))
    factory = lambda: BloomSketch(1000, 0.01)  # noqa: E731 — dense partials
    build_sketch(df, factory, cols=["k"], checkpoint_dir=ckpt)
    pdf = spark.read.parquet(ckpt).toPandas()
    # the raw frame, as the previous release wrote it
    raw = [Sketch.from_bytes(bytes(b)).to_bytes() for b in pdf["blob"]]
    assert {b[4:8] for b in raw} == {b"BLM3"}
    assert all(b[4 + 4 + 8 + 29] == 0 for b in raw)  # dense
    # the same partials as the previous release tagged them (marker kept)
    pdf["blob"] = [b"BJSKBLM2" + b[8:] for b in raw]
    for f in glob.glob(os.path.join(ckpt, "*.parquet")):
        os.remove(f)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(ckpt, "part-legacy.parquet"))

    with pytest.warns(UserWarning, match="older bit layout"):
        res = build_sketch(df, factory, cols=["k"], checkpoint_dir=ckpt)
    fresh = build_sketch(df, factory, cols=["k"])
    assert res.sketch.KIND == b"BLM3" and res.n_rows == n
    assert np.array_equal(res.sketch.words, fresh.sketch.words)
    kinds = {bytes(b)[4:8] for b in spark.read.parquet(ckpt).toPandas()["blob"]}
    assert kinds == {b"BLM3"}


def test_checkpoint_of_raw_partials_resumes(spark, tmp_path):
    """A checkpoint dir whose partials carry the raw frame, as releases
    before the packed frame wrote them, resumes every done partition:
    no warning, no rebuild (its rows keep their raw blobs), and the
    sketch equals a fresh build."""
    import glob
    import warnings as W

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomjoin_spark import HllSketch
    from bloomjoin_spark.aggregate import _resume_ids
    from bloomjoin_spark.sketches.base import Sketch

    n, ckpt = 8000, str(tmp_path / "raw_ckpt")
    df = spark.range(0, n).repartition(3).select(F.col("id").alias("k"))

    def build():
        return build_sketch(df, lambda: HllSketch(12), cols=["k"], checkpoint_dir=ckpt)

    def blobs():
        return sorted(bytes(b) for b in spark.read.parquet(ckpt).toPandas()["blob"])

    build()
    assert {b[:4] for b in blobs()} == {b"BJSZ"}
    pdf = spark.read.parquet(ckpt).toPandas()
    pdf["blob"] = [Sketch.from_bytes(bytes(b)).to_bytes() for b in pdf["blob"]]
    for f in glob.glob(os.path.join(ckpt, "*.parquet")):
        os.remove(f)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(ckpt, "part-raw.parquet"))
    raw = blobs()
    assert {b[:4] for b in raw} == {b"BJSK"}
    assert _resume_ids(spark, ckpt) == frozenset(range(3))
    with W.catch_warnings():
        W.simplefilter("error", UserWarning)
        res = build()
    fresh = build_sketch(df, lambda: HllSketch(12), cols=["k"])
    assert res.sketch.to_bytes() == fresh.sketch.to_bytes() and res.n_rows == n
    assert blobs() == raw


def test_partial_rows_ship_packed(spark):
    """HLL and CMS partial rows carry the packed frame: the same
    partials pack to the same bytes twice, in at most half the bytes of
    their raw frames."""
    from bloomjoin_spark import CmsSketch, HllSketch
    from bloomjoin_spark.aggregate import sketch_partials
    from bloomjoin_spark.sketches.base import Sketch

    df = spark.range(0, 20_000, 1, 2).select(F.col("id").alias("k"))
    for factory in (lambda: HllSketch(12), lambda: CmsSketch(1e-3, 1e-3)):
        runs = [
            sorted((r["partition_id"], bytes(r["blob"]))
                   for r in sketch_partials(df, factory, cols=["k"]).collect())
            for _ in range(2)
        ]
        assert runs[0] == runs[1]
        blobs = [b for _, b in runs[0]]
        assert len(blobs) == 2 and {b[:4] for b in blobs} == {b"BJSZ"}
        raw = sum(len(Sketch.from_bytes(b).to_bytes()) for b in blobs)
        assert 2 * sum(map(len, blobs)) <= raw


def test_nan_group_key_stays_apart_from_null(spark, tmp_path):
    """A NaN key of a double group column is its own group at every
    per-group fold, as in ``groupBy``, not a second null group."""
    from bloomjoin_spark import HllSketch, grouped_sketch_estimates, grouped_topk
    from bloomjoin_spark.store import append_sketch_snapshot, read_sketch_store, store_estimates

    rows = [(g, i) for g in (1.5, None, float("nan")) for i in range(3)]
    df = spark.createDataFrame(rows, "g double, k long").repartition(2)
    want = sorted((repr(r["g"]), r["count"]) for r in df.groupBy("g").count().collect())
    assert want == [("1.5", 3), ("None", 3), ("nan", 3)]

    def got(out, n="n_rows"):
        return sorted((repr(r["g"]), r[n]) for r in out.collect())

    path = str(tmp_path / "store")
    append_sketch_snapshot(df, lambda: HllSketch(10), path, "day1", group_col="g", cols=["k"])
    assert got(grouped_sketch_estimates(df, lambda: HllSketch(10), "g", cols=["k"])) == want
    assert got(store_estimates(read_sketch_store(spark, path), "g")) == want
    assert got(grouped_topk(df, "g", k=1, capacity=8, cols=["k"]), "count_est") == [
        ("1.5", 1), ("None", 1), ("nan", 1)]


def test_token_array_ingestion(spark):
    # build over exploded-free array<int> column
    rows = [(i, list(range(i % 5))) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    res = build_sketch(df, lambda: BloomSketch(10, 0.01), token_col="tokens")
    # token ids 0..3 present, 4+ absent
    import pandas as pd

    from bloomjoin_spark.hashing import hash_series

    present = hash_series(pd.Series([0, 1, 2, 3], dtype="int32"))
    assert res.sketch.contains_hashes(present).all()


def test_null_keys_tracked_not_inserted(spark):
    df = spark.createDataFrame(
        [(None,), ("a",), ("b",), (None,)], "k string"
    )
    res = build_sketch(df, lambda: BloomSketch(4, 0.01), cols=["k"])
    assert res.sketch.has_null
    assert res.sketch.n_added == 2


def test_build_sketches_single_pass_matches_individual(spark):
    """Multi-sketch one-pass build == per-sketch builds (same estimates),
    covering all four consumer types over one token column."""
    from bloomjoin_spark import (
        CmsSketch,
        HllSketch,
        KllSketch,
        TDigestSketch,
        build_sketch,
        build_sketches,
    )
    from bloomjoin_spark.datagen import token_table

    toks = token_table(spark, 20_000, vocab=2_000, max_tok=32, num_partitions=8)
    multi = build_sketches(
        toks,
        {
            "hll": lambda: HllSketch(12),
            "cms": lambda: CmsSketch(eps=1e-3, delta=1e-3),
            "td": lambda: TDigestSketch(200),
            "kll": lambda: KllSketch(200),
        },
        token_col="tokens",
    )
    single_hll = build_sketch(toks, lambda: HllSketch(12), token_col="tokens")
    single_cms = build_sketch(
        toks, lambda: CmsSketch(eps=1e-3, delta=1e-3), token_col="tokens"
    )
    assert multi["hll"].sketch.estimate() == single_hll.sketch.estimate()
    assert (multi["cms"].sketch.table == single_cms.sketch.table).all()
    assert multi["hll"].n_partitions == 8
    # quantiles of the zipf token distribution: q50 must be small, q ordering holds
    qs = multi["td"].sketch.quantile([0.1, 0.5, 0.9])
    assert qs[0] <= qs[1] <= qs[2]
    kq = multi["kll"].sketch.quantile([0.1, 0.5, 0.9])
    assert kq[0] <= kq[1] <= kq[2]
    assert multi["td"].n_rows == single_hll.n_rows


def test_token_profile_one_pass(spark):
    from bloomjoin_spark.datagen import token_table
    from bloomjoin_spark.functions import token_profile
    from pyspark.sql import functions as F

    toks = token_table(spark, 10_000, vocab=500, max_tok=16, num_partitions=4)
    prof = token_profile(toks, "tokens", top_tokens=[0, 1, 2])
    exact_distinct = (
        toks.select(F.explode("tokens").alias("t")).agg(F.countDistinct("t")).first()[0]
    )
    assert abs(prof["distinct_tokens"] - exact_distinct) / exact_distinct < 0.05
    exact_total = toks.agg(F.sum(F.size("tokens"))).first()[0]
    assert prof["total_tokens"] == exact_total
    assert prof["rows"] == 10_000
    q = prof["token_quantiles_tdigest"]
    assert q[0] <= q[1] <= q[2]
    exact0 = toks.select(F.explode("tokens").alias("t")).filter(F.col("t") == 0).count()
    est0 = prof["token_frequencies"][0]
    assert exact0 <= est0 <= exact0 + 1e-4 * exact_total + 1


def test_build_sketches_checkpoint_resume(spark, tmp_path):
    """Multi-sketch lineage: a second run over a complete checkpoint
    recomputes nothing (resume fast-path yields no new partials) and
    returns identical estimates."""
    from bloomjoin_spark import CmsSketch, HllSketch, build_sketches
    from bloomjoin_spark.datagen import token_table

    ckpt = str(tmp_path / "multi_ckpt")
    toks = token_table(spark, 5_000, vocab=300, max_tok=16, num_partitions=4)
    facts = {
        "hll": lambda: HllSketch(12),
        "cms": lambda: CmsSketch(eps=1e-3, delta=1e-3),
    }
    first = build_sketches(toks, facts, token_col="tokens", checkpoint_dir=ckpt)
    second = build_sketches(toks, facts, token_col="tokens", checkpoint_dir=ckpt)
    assert first["hll"].sketch.estimate() == second["hll"].sketch.estimate()
    assert (first["cms"].sketch.table == second["cms"].sketch.table).all()
    assert second["hll"].n_partitions == 4
    # lineage rows: one per (sketch, partition)
    rows = spark.read.parquet(ckpt)
    assert rows.select("name", "partition_id").distinct().count() == 8


def test_big_int64_keys_arrow_path_matches_query(spark):
    """Regression: the Arrow fast path must hash int64 keys beyond 2^53
    exactly like the query-side hash_series (exact integer bits, not
    doubles). Pre-fix, 2^60+i keys all rounded to the same double:
    CMS point queries returned 0 (undercount-guarantee broken), Bloom
    produced false negatives, HLL collapsed distinct keys."""
    import pandas as pd

    from bloomjoin_spark import CmsSketch, HllSketch
    from bloomjoin_spark.functions import token_frequencies
    from bloomjoin_spark.hashing import hash_series

    base = 1 << 60  # double ulp here is 256: adjacent ints collide as floats
    keys = [base + i for i in range(8)]
    rows = [(k,) for k in keys for _ in range(100)]
    df = spark.createDataFrame(rows, "k long").repartition(4)
    freqs = token_frequencies(df, keys, cols=["k"], eps=1e-3, delta=1e-3)
    for k in keys:
        assert freqs[k] >= 100, f"CMS undercounted exact-int64 key {k}: {freqs[k]}"
    res = build_sketch(df, lambda: BloomSketch(8, 0.01), cols=["k"])
    h = hash_series(pd.Series(keys, dtype="int64"))
    assert res.sketch.contains_hashes(h).all(), "Bloom false negative on big int64"
    hres = build_sketch(df, lambda: HllSketch(14), cols=["k"])
    assert round(hres.sketch.estimate()) == 8


def test_build_sketches_empty_input(spark):
    """Empty input still returns every requested sketch (empty), not a
    missing key."""
    from bloomjoin_spark import HllSketch, build_sketches

    empty = spark.createDataFrame([], "doc_id string, tokens array<int>")
    res = build_sketches(empty, {"hll": lambda: HllSketch(12)}, token_col="tokens")
    assert res["hll"].n_rows == 0
    assert res["hll"].sketch.estimate() == 0.0


def test_string_key_build_arrow_path_matches_query(spark):
    """String keys ride the Arrow utf8 fast path; membership/frequency
    queries hashed via hash_series/hash_strings must agree exactly, and
    nulls are tracked, never inserted."""
    import pandas as pd

    from bloomjoin_spark import CmsSketch, HllSketch
    from bloomjoin_spark.hashing import hash_series

    rows = [(f"doc_{i % 500:05d}",) for i in range(5_000)] + [(None,)] * 3
    df = spark.createDataFrame(rows, "doc_id string").repartition(4)
    res = build_sketch(df, lambda: BloomSketch(500, 0.01), cols=["doc_id"])
    assert res.sketch.has_null
    h = hash_series(pd.Series([f"doc_{i:05d}" for i in range(500)]))
    assert res.sketch.contains_hashes(h).all()
    absent = hash_series(pd.Series([f"nope_{i}" for i in range(2_000)]))
    assert res.sketch.contains_hashes(absent).mean() < 0.03
    hll = build_sketch(df, lambda: HllSketch(14), cols=["doc_id"])
    assert abs(hll.sketch.estimate() - 500) / 500 < 0.05
    cms = build_sketch(df, lambda: CmsSketch(eps=1e-3, delta=1e-3), cols=["doc_id"])
    est = cms.sketch.query_hashes(h)
    assert (est >= 10).all()  # every key appears 10 times


def test_grouped_sketch_estimates_distributed(spark):
    """grouped_sketch_estimates: per-group estimates via a distributed
    blob merge (no driver-side per-group state) — HLL per-group distinct
    within the published bound, CMS per-group totals exact."""
    from pyspark.sql import functions as F

    from bloomjoin_spark import CmsSketch, HllSketch, grouped_sketch_estimates
    from bloomjoin_spark.datagen import token_table

    df = token_table(spark, 20_000, vocab=500, max_tok=8, num_partitions=8)
    got = {
        r["source"]: r
        for r in grouped_sketch_estimates(
            df, lambda: HllSketch(13), "source", cols=["doc_id"]
        ).collect()
    }
    exact = {
        r["source"]: (r["d"], r["n"])
        for r in df.groupBy("source")
        .agg(F.countDistinct("doc_id").alias("d"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    rel = 1.04 / (2 ** (13 / 2))
    for src, (d, n) in exact.items():
        assert got[src]["n_rows"] == n
        assert abs(got[src]["estimate"] - d) / max(d, 1) <= 4 * rel

    cms = {
        r["source"]: r["estimate"]
        for r in grouped_sketch_estimates(
            df, lambda: CmsSketch(eps=1e-3, delta=1e-3), "source", cols=["doc_id"]
        ).collect()
    }
    # CMS has no .estimate(); the merge emits .total — exact row count
    for src, (_, n) in exact.items():
        assert cms[src] == n


def test_grouped_quantiles_via_extract(spark):
    """extract= maps the merged per-group sketch to any scalar — e.g.
    per-source median n_tok from a t-digest, within the digest's rank
    error of the exact median."""
    from bloomjoin_spark import TDigestSketch, grouped_sketch_estimates
    from bloomjoin_spark.datagen import token_table

    df = token_table(spark, 20_000, vocab=500, max_tok=64, num_partitions=8)
    got = {
        r["source"]: r["estimate"]
        for r in grouped_sketch_estimates(
            df, lambda: TDigestSketch(200), "source", cols=["n_tok"],
            extract=lambda s: float(s.quantile(0.5)),
        ).collect()
    }
    exact = {
        r["source"]: r["med"]
        for r in df.groupBy("source")
        .agg(F.expr("percentile(n_tok, 0.5)").alias("med"))
        .collect()
    }
    assert set(got) == set(exact)
    for src in exact:
        assert abs(got[src] - exact[src]) <= max(3.0, 0.05 * exact[src])


# ---------------------------------------------------------------------------
# grouped_topk: per-group heavy hitters, one pass, blob-only shuffle
# ---------------------------------------------------------------------------

def _exact_grouped_topk(df, group_col, item_col, k):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cnt = df.groupBy(group_col, item_col).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(group_col).orderBy(
        F.col("c").desc(), F.col(item_col).asc()
    )
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(group_col, F.col(item_col).alias("item"),
                F.col("c").alias("count_est"), "rank")
    )


def test_grouped_topk_exact_when_capacity_covers_distinct(spark):
    """capacity >= per-group distinct items → SpaceSaving is exact:
    rows equal the groupBy-count + window-rank plan, error == 0."""
    import pyspark.sql.functions as F

    from bloomjoin_spark import grouped_topk

    rows = [
        (g, int(v))
        for g in ("a", "b", "c")
        for i, v in enumerate([7] * 9 + [3] * 5 + [11] * 3 + [2, 5, 6])
    ]
    # skew group b: extra mass on a different item
    rows += [("b", 99)] * 12
    df = spark.createDataFrame(rows, "src string, item_val long").repartition(4)
    got = grouped_topk(df, "src", k=3, capacity=64, cols=["item_val"])
    exp = _exact_grouped_topk(df, "src", "item_val", 3)
    g = {(r["src"], r["item"], r["count_est"], r["rank"]) for r in got.collect()}
    e = {(r["src"], r["item"], r["count_est"], r["rank"]) for r in exp.collect()}
    assert g == e
    assert all(r["error"] == 0 for r in grouped_topk(
        df, "src", k=3, capacity=64, cols=["item_val"]).collect())


def test_grouped_topk_bounds_under_pressure(spark):
    """capacity < distinct: every row keeps the SpaceSaving bracket
    (true ∈ [count_est − error, count_est]) and the dominant item per
    group (freq > 2n/capacity) is guaranteed reported."""
    from bloomjoin_spark import grouped_topk

    rows = []
    for g, hot in (("a", 1000), ("b", 2000)):
        rows += [(g, hot)] * 300                       # dominant
        rows += [(g, i) for i in range(120)]           # long tail
    df = spark.createDataFrame(rows, "src string, item_val long").repartition(5)
    got = grouped_topk(df, "src", k=5, capacity=32, cols=["item_val"])
    rows_out = got.collect()
    true = {(g, v): 0 for g, v in rows}
    for g, v in rows:
        true[(g, v)] += 1
    for r in rows_out:
        t = true.get((r["src"], r["item"]), 0)
        assert r["count_est"] - r["error"] <= t <= r["count_est"]
    top_per_group = {r["src"]: r["item"] for r in rows_out if r["rank"] == 1}
    assert top_per_group == {"a": 1000, "b": 2000}


def test_grouped_topk_token_col_path(spark):
    """Per-group heavy hitters over token ARRAYS (the north-rule
    shape): one pass, no explode."""
    from bloomjoin_spark import grouped_topk

    df = spark.createDataFrame(
        [
            ("s1", [5, 5, 5, 1, 2]),
            ("s1", [5, 9]),
            ("s2", [8, 8, 3]),
            ("s2", [8]),
        ],
        "source string, tokens array<int>",
    )
    got = grouped_topk(df, "source", k=1, token_col="tokens")
    rows = {(r["source"], r["item"], r["count_est"]) for r in got.collect()}
    assert rows == {("s1", 5, 4), ("s2", 8, 3)}


def test_grouped_topk_validation(spark):
    from bloomjoin_spark import grouped_topk

    df = spark.createDataFrame([("a", 1)], "src string, v long")
    with pytest.raises(ValueError, match="k must be"):
        grouped_topk(df, "src", k=0, cols=["v"])
    with pytest.raises(ValueError, match="capacity"):
        grouped_topk(df, "src", k=10, capacity=4, cols=["v"])


def test_grouped_topk_weighted_exact(spark):
    """weight_col: ranking by per-item WEIGHT SUM equals the exact
    groupBy-sum + window-rank plan when capacity covers the domain;
    NULL-weight rows carry no mass."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bloomjoin_spark import grouped_topk

    rows = [
        ("a", 1, 5), ("a", 1, 7), ("a", 2, 100), ("a", 3, 1),
        ("b", 1, 2), ("b", 9, 50), ("b", 9, 9), ("b", 2, 30),
        ("a", 4, None),  # NULL weight: no mass
    ]
    df = spark.createDataFrame(
        rows, "src string, item_val long, w long"
    ).repartition(3)
    got = grouped_topk(df, "src", k=2, capacity=64,
                       cols=["item_val"], weight_col="w")
    cnt = (
        df.filter(F.col("w").isNotNull())
        .groupBy("src", "item_val").agg(F.sum("w").alias("c"))
    )
    win = Window.partitionBy("src").orderBy(
        F.col("c").desc(), F.col("item_val").asc()
    )
    exp = cnt.withColumn("rank", F.row_number().over(win)).filter("rank <= 2")
    g = {(r["src"], r["item"], r["count_est"], r["rank"]) for r in got.collect()}
    e = {(r["src"], r["item_val"], r["c"], r["rank"]) for r in exp.collect()}
    assert g == e
    assert all(r["error"] == 0 for r in got.collect())


def test_grouped_topk_weighted_bracket_under_pressure(spark):
    """capacity < distinct with weights: count_est brackets the true
    weight sum and the dominant-mass item per group is rank 1."""
    from bloomjoin_spark import grouped_topk

    rows = []
    for g, hot in (("a", 1000), ("b", 2000)):
        rows += [(g, hot, 40)] * 30                    # dominant mass
        rows += [(g, i, 1) for i in range(120)]        # long light tail
    df = spark.createDataFrame(
        rows, "src string, item_val long, w long"
    ).repartition(5)
    got = grouped_topk(df, "src", k=5, capacity=32,
                       cols=["item_val"], weight_col="w").collect()
    true: dict = {}
    for g, v, w in rows:
        true[(g, v)] = true.get((g, v), 0) + w
    for r in got:
        t = true.get((r["src"], r["item"]), 0)
        assert r["count_est"] - r["error"] <= t <= r["count_est"]
    assert {r["src"]: r["item"] for r in got if r["rank"] == 1} == {
        "a": 1000, "b": 2000
    }


def test_grouped_topk_weighted_validation(spark):
    from bloomjoin_spark import grouped_topk

    df = spark.createDataFrame(
        [("a", 1, 1.5)], "src string, v long, w double"
    )
    # fractional weights raise inside the task
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="integer-valued|Py4J"):
        grouped_topk(df, "src", k=2, cols=["v"], weight_col="w").collect()
    # weight_col without an item column is rejected up front
    with pytest.raises(ValueError, match="weight_col"):
        grouped_topk(df, "src", k=2, token_col="v", weight_col="w")


# ---------------------------------------------------------------------------
# partial_stage: one partial per input partition from ⌈bytes / target⌉
# Python tasks
# ---------------------------------------------------------------------------

def _jobs_and_tasks(spark, group, fn):
    """``(fn(), jobs, tasks per stage)`` of the Spark work ``fn`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = sorted(st.getJobIdsForGroup(group))
    tasks = [
        st.getStageInfo(s).numTasks
        for j in jobs
        for s in sorted(st.getJobInfo(j).stageIds)
    ]
    return out, len(jobs), tasks


@pytest.fixture(scope="module")
def cached_tokens(spark):
    from bloomjoin_spark.datagen import token_table

    toks = token_table(spark, 5_000, vocab=300, max_tok=16, num_partitions=4)
    toks = toks.persist()
    toks.count()
    yield toks
    toks.unpersist()


def test_small_build_runs_one_python_task_per_call(spark, cached_tokens, monkeypatch):
    """A 4-partition input far under ``_PY_TASK_BYTES`` builds in one
    job whose one stage runs ONE Python task, on the Arrow lane
    (``build_sketches``), the pandas lane (two key columns) and a
    grouped lane — and still returns one partial per input partition,
    with the same blobs as one task per partition."""
    import bloomjoin_spark.aggregate as agg
    from bloomjoin_spark import CmsSketch, HllSketch, build_sketches

    facs = {
        "hll": lambda: HllSketch(12),
        "cms": lambda: CmsSketch(eps=1e-3, delta=1e-3),
    }
    calls = {
        "suite": lambda: build_sketches(cached_tokens, facs, token_col="tokens"),
        "pandas": lambda: build_sketch(
            cached_tokens, lambda: HllSketch(12), cols=["source", "n_tok"]
        ),
        "grouped": lambda: agg.grouped_sketch_partials(
            cached_tokens, lambda: HllSketch(10), "source", token_col="tokens"
        ).collect(),
    }

    def blobs(name, out):
        if name == "suite":
            return {k: (r.n_partitions, r.n_rows, r.sketch.to_bytes())
                    for k, r in out.items()}
        if name == "pandas":
            return out.n_partitions, out.n_rows, out.sketch.to_bytes()
        return sorted((r["source"], r["partition_id"], r["n_rows"],
                       r["fingerprint"], bytes(r["blob"])) for r in out)

    got = {}
    for name, call in calls.items():
        out, n_jobs, tasks = _jobs_and_tasks(spark, f"one_task_{name}", call)
        assert (n_jobs, tasks) == (1, [1]), (name, n_jobs, tasks)
        got[name] = blobs(name, out)
    assert got["suite"]["hll"][0] == got["suite"]["cms"][0] == 4
    assert got["pandas"][0] == 4
    assert {r[1] for r in got["grouped"]} == {0, 1, 2, 3}

    monkeypatch.setattr(agg, "_PY_TASK_BYTES", 1)
    for name, call in calls.items():
        out, n_jobs, tasks = _jobs_and_tasks(spark, f"per_part_{name}", call)
        assert (n_jobs, tasks) == (1, [4]), (name, n_jobs, tasks)
        assert blobs(name, out) == got[name], name


def test_tdigest_token_lanes_share_one_histogram(cached_tokens):
    """``build_sketch`` and ``build_sketches`` feed the t-digest the same
    per-batch token-id histogram: byte-identical blobs, the exact token
    count, and quantiles within the benchmark's rank bound."""
    from bloomjoin_spark import KllSketch, TDigestSketch, build_sketches

    single = build_sketch(cached_tokens, lambda: TDigestSketch(200), token_col="tokens")
    multi = build_sketches(
        cached_tokens,
        {"td": lambda: TDigestSketch(200), "kll": lambda: KllSketch(200)},
        token_col="tokens",
    )
    assert single.sketch.to_bytes() == multi["td"].sketch.to_bytes()
    toks = np.sort(np.concatenate(
        [np.asarray(t) for t in cached_tokens.select("tokens").toPandas()["tokens"]]
    ))
    assert single.sketch.count == multi["kll"].sketch.count == toks.size
    qs = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
    est = single.sketch.quantile(qs)
    left = np.searchsorted(toks, est, "left") / toks.size
    right = np.searchsorted(toks, est, "right") / toks.size
    assert np.maximum(0.0, np.maximum(qs - right, left - qs)).max() <= 10 / 200


def test_empty_input_partitions_still_count(spark):
    """``n_partitions`` counts input partitions without rows, and rows
    and sketch bytes equal the sketch built locally from the same keys:
    with one task per partition (an adaptive and a plain input, where
    an empty partition emits an empty partial) and with one task for
    all eight (a cached input, where it emits none)."""
    import pandas as pd

    from bloomjoin_spark import CmsSketch, HllSketch, build_sketches
    from bloomjoin_spark.hashing import hash_series

    keys = np.arange(3, dtype=np.int64)
    factories = {
        "hll": lambda: HllSketch(12),
        "cms": lambda: CmsSketch(eps=1e-2, delta=1e-2),
        "bloom": lambda: BloomSketch(16, 0.01),
    }
    want = {}
    for name, f in factories.items():
        sk = f()
        for h in hash_series(pd.Series(keys)):
            sk.update_hashes(np.array([h], dtype=np.uint64))
        want[name] = sk.to_bytes()
    cached = spark.range(0, 3, 1, 8).persist()
    cached.count()
    inputs = {
        "adaptive": spark.range(0, 3).repartition(8),
        "plain": spark.range(0, 3, 1, 8),
        "cached": cached,
    }
    for how, base in inputs.items():
        df = base.select(F.col("id").alias("k"))
        for name, f in factories.items():
            res = build_sketch(df, f, cols=["k"])
            assert (res.n_partitions, res.n_rows) == (8, 3), (how, name)
            assert res.sketch.to_bytes() == want[name], (how, name)
        toks = base.select(F.array(F.col("id").cast("int")).alias("tokens"))
        multi = build_sketches(toks, factories, token_col="tokens")
        for name, r in multi.items():
            assert (r.n_partitions, r.n_rows) == (8, 3), (how, name)
            assert r.sketch.to_bytes() == want[name], (how, name)
    # no rows at all (adaptive execution would prune an empty shuffle
    # to zero partitions, so only the other plans have eight)
    for how in ("plain", "cached"):
        none = build_sketch(
            inputs[how].select(F.col("id").alias("k")).where(F.col("k") < 0),
            factories["hll"], cols=["k"],
        )
        assert (none.n_partitions, none.n_rows) == (8, 0), how
        assert none.sketch.to_bytes() == factories["hll"]().to_bytes(), how
    cached.unpersist()


def test_file_scan_keeps_one_python_task_per_partition(spark, tmp_path):
    """Only cached inputs are coalesced: a parquet scan far under
    ``_PY_TASK_BYTES`` still runs one Python task per input split."""
    from bloomjoin_spark import HllSketch

    path = str(tmp_path / "keys")
    spark.range(0, 4_000, 1, 4).write.parquet(path)
    keys = spark.read.parquet(path)
    n_in = keys.rdd.getNumPartitions()
    res, n_jobs, tasks = _jobs_and_tasks(
        spark, "file_scan", lambda: build_sketch(keys, lambda: HllSketch(12), cols=["id"])
    )
    assert (n_jobs, tasks) == (1, [n_in])
    assert (res.n_partitions, res.n_rows) == (n_in, 4_000)


@pytest.mark.parametrize("cached", [False, True])
def test_partial_resume_across_file_layouts(spark, tmp_path, cached):
    """A checkpoint of 6 partitions pruned to ids {0, 1, 2} and
    rewritten one file per partition id (the one-task-per-partition
    layout) resumes by computing exactly ids 3–5, and the result is
    byte-identical to a fresh build for Bloom, HLL and CMS — also when
    the fresh build ran all six partitions in one coalesced task."""
    from bloomjoin_spark import CmsSketch, HllSketch, build_sketches

    toks = spark.range(0, 6_000, 1, 6).select(
        F.array((F.col("id") % 701).cast("int"), (F.col("id") % 13).cast("int"))
        .alias("tokens")
    )
    if cached:
        toks = toks.persist()
        toks.count()
    facs = {
        "bloom": lambda: BloomSketch(2_000, 0.01),
        "hll": lambda: HllSketch(12),
        "cms": lambda: CmsSketch(eps=1e-3, delta=1e-3),
    }
    full, pruned = str(tmp_path / "full"), str(tmp_path / "pruned")
    build_sketches(toks, facs, token_col="tokens", checkpoint_dir=full)
    lineage = spark.read.parquet(full)
    assert lineage.count() == 18
    for pid in (0, 1, 2):
        (lineage.where(F.col("partition_id") == pid).coalesce(1)
         .write.mode("append").parquet(pruned))

    resumed = build_sketches(toks, facs, token_col="tokens", checkpoint_dir=pruned)
    after = spark.read.parquet(pruned)
    per_pid = {r["partition_id"]: r["count"]
               for r in after.groupBy("partition_id").count().collect()}
    assert per_pid == {pid: 3 for pid in range(6)}  # ids 3-5 appended once
    fresh = build_sketches(toks, facs, token_col="tokens")
    for name in facs:
        assert resumed[name].sketch.to_bytes() == fresh[name].sketch.to_bytes(), name
        assert resumed[name].n_partitions == fresh[name].n_partitions == 6
        assert resumed[name].n_rows == fresh[name].n_rows == 6_000
    if cached:
        toks.unpersist()


def test_checkpoint_keeps_merge_rounds_on_adaptive_input(spark, tmp_path):
    """An adaptive input's partition count is known only once it runs,
    and partials restored from a checkpoint sit in a parquet layout
    that says nothing about it: the checkpointed build counts the
    restored partition ids, so it plans the same fan-in-bounded merge
    as the build without a checkpoint."""
    from bloomjoin_spark import HllSketch
    from bloomjoin_spark.aggregate import _input_partitions

    df = spark.range(0, 4_000).repartition(8).select(F.col("id").alias("k"))
    assert _input_partitions(df) is None
    plain = build_sketch(df, lambda: HllSketch(10), cols=["k"], fanin=2)
    ckpt = build_sketch(
        df, lambda: HllSketch(10), cols=["k"], fanin=2,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert (plain.merge_rounds, plain.n_partitions, plain.n_rows) == (2, 8, 4_000)
    assert (ckpt.merge_rounds, ckpt.n_partitions, ckpt.n_rows) == (2, 8, 4_000)
    assert ckpt.sketch.to_bytes() == plain.sketch.to_bytes()


# ---------------------------------------------------------------------------
# partial rows pinned per lane: (key, partition_id, n_partials, n_rows,
# fingerprint, blob) of every partial builder on one fixed input
# ---------------------------------------------------------------------------

_LANE_SCHEMA = (
    "g string, s string, k long, x double, h long, toks array<int>, "
    "w long, vec array<double>"
)


def _lane_rows():
    """96 rows with nulls in every column, a NaN, empty token lists and
    repeated keys; three partitions, seven-row Arrow batches."""
    rows = []
    for i in range(96):
        rows.append((
            None if i % 13 == 0 else "abc"[i % 3],
            None if i % 9 == 4 else f"k{(i * 7) % 23}",
            None if i % 10 == 7 else (i * 31) % 41 - 20,
            None if i % 8 == 1 else float("nan") if i == 30 else (i * 0.37) % 5 - 1,
            None if i % 15 == 14 else (i * 0x9E3779B97F4A7C15) % (1 << 64) - (1 << 63),
            None if i % 12 == 6 else [(i * j) % 29 for j in range(i % 5)],
            None if i % 14 == 9 else i % 4,
            None if i % 10 == 2 else [i * 0.1, (i % 3) * 1.0, -i * 0.05],
        ))
    return rows


def _lane_partials(spark, lane):
    """The partial-row DataFrame one builder lane writes over the fixed
    input; every row keeps a leading key (``None`` when ungrouped)."""
    from bloomjoin_spark import (
        CmsSketch,
        FrequentDirectionsSketch,
        HllSketch,
        KllSketch,
        TDigestSketch,
        ThetaSketch,
        TopKSketch,
    )
    from bloomjoin_spark.aggregate import (
        MULTI_PARTIAL_SCHEMA,
        grouped_sketch_partials,
        make_multi_partial_fn_arrow,
        partial_stage,
        sketch_partials,
    )
    from bloomjoin_spark.operators.profile import _make_profile_partial_fn

    df = spark.createDataFrame(spark.sparkContext.parallelize(_lane_rows(), 3), _LANE_SCHEMA)
    single = {
        "arrow_prehashed": (lambda: BloomSketch(200, 0.01), dict(cols=["h"], prehashed=True)),
        "arrow_string": (lambda: HllSketch(10), dict(cols=["s"])),
        "arrow_numeric_hashes": (lambda: CmsSketch(1e-2, 1e-2), dict(cols=["k"])),
        "arrow_numeric_values": (lambda: KllSketch(16), dict(cols=["x"])),
        "arrow_tokens_bloom": (lambda: BloomSketch(200, 0.01), dict(token_col="toks")),
        "arrow_tokens_cms": (lambda: CmsSketch(1e-2, 1e-2), dict(token_col="toks")),
        "arrow_tokens_kll": (lambda: KllSketch(16), dict(token_col="toks")),
        "arrow_tokens_tdigest": (lambda: TDigestSketch(20), dict(token_col="toks")),
        "arrow_vectors": (lambda: FrequentDirectionsSketch(2, 3), dict(cols=["vec"])),
        "pandas_two_col_hll": (lambda: HllSketch(10), dict(cols=["s", "k"])),
    }
    grouped = {
        "grouped_tokens_hashes": (lambda: CmsSketch(1e-2, 1e-2), dict(token_col="toks")),
        "grouped_tokens_values": (lambda: TopKSketch(8), dict(token_col="toks")),
        "grouped_string_hashes": (lambda: HllSketch(10), dict(cols=["s"])),
        "grouped_numeric_values": (lambda: KllSketch(64), dict(cols=["x"])),
        "grouped_weighted_topk": (lambda: TopKSketch(4), dict(cols=["k"], weight_col="w")),
    }
    if lane in single:
        factory, kw = single[lane]
        return sketch_partials(df, factory, **kw).select(F.lit(None).cast("string"), "*")
    if lane in grouped:
        factory, kw = grouped[lane]
        return grouped_sketch_partials(df, factory, "g", **kw)
    if lane == "multi":
        facs = {
            "hll": lambda: HllSketch(10),
            "cms": lambda: CmsSketch(1e-2, 1e-2),
            "bloom": lambda: BloomSketch(200, 0.01),
            "theta": lambda: ThetaSketch(16),
            "tdigest": lambda: TDigestSketch(20),
            "kll": lambda: KllSketch(16),
            "topk": lambda: TopKSketch(4),
        }
        build = make_multi_partial_fn_arrow(facs, "toks")
        return partial_stage(df, ["toks"], build, MULTI_PARTIAL_SCHEMA)[0]
    assert lane == "profile", lane
    build = _make_profile_partial_fn(["s", "k", "x"], {"k", "x"}, 10, 20)
    return partial_stage(df, ["s", "k", "x"], build, MULTI_PARTIAL_SCHEMA)[0]


#: sha256 of each lane's sorted partial rows: a digest moves when any
#: partition id, partial count, row count, fingerprint or blob (by its
#: raw frame) moves.
#: ``grouped_weighted_topk`` was re-pinned when its lane moved to Arrow
#: batches: before, a null string group key reached the sketch table as
#: a fresh NaN per batch, so the null group wrote one partial row per
#: batch instead of one per partition (every other row is unchanged)
PARTIAL_ROW_DIGESTS = {
    "arrow_prehashed": "1ad755d99e22ab5de0b8b38ea3d9104429a95911ddd8b6caaf8f59ea77467828",
    "arrow_string": "6e00de0cc0bf1205d398e6bf10ad869bb99e5a3239c63127bed03f21947c3e9e",
    "arrow_numeric_hashes": "7070cf4d1366acb7c7dde7ba63518893ef4ecfa41231b99bfbcad22f3c228527",
    "arrow_numeric_values": "b4ecf2270a0c49689a8883f11d476724139b59f9b6061b67830bba32db8ccc3a",
    "arrow_tokens_bloom": "d18f1a6fc91743e551ddf850cf30bc0b1c5f86ef0ae5738ab4f0b5a746994d1b",
    "arrow_tokens_cms": "829dae849905d389f506ac7aec759606813dd8b454a70392df71a5767c01b8ce",
    "arrow_tokens_kll": "d2a26c11b1266aac3e716b13f012f55eda6b8667b2c89c231e5a9bef54a9b2a3",
    "arrow_tokens_tdigest": "284478f6ff634776e7163eea8b769e3f40f79054143ac0085aee8fb4571ea3af",
    "arrow_vectors": "6ea9021bddb4a9e3816ba49d5c95f1190d1e55d3ea0c0a1586dfdd0879aebba2",
    "pandas_two_col_hll": "4e1df11531e87ed231cdcccaa2e2a1b3a7019e02d8a51ba79054ef7bb8405763",
    "grouped_tokens_hashes": "76df88009993ac556cb37cdc2585ce23282c29745304b0bc956ef4598ea81eb3",
    "grouped_tokens_values": "f3ddd4c59f47dbd76fa685e74931eeff4ae025cd52a721065e473528c7136de2",
    "grouped_string_hashes": "35ef1deccdb89d433435ad24cc3e44df75706b22eeb9fbb489943bf7f6de951c",
    "grouped_numeric_values": "39751197e0a0a2f2cba7835ed90f9485fe8b1574a8716c76462fac848658530f",
    "grouped_weighted_topk": "1e0f48a97fecb83ebdac867f6e5a73a078cd9ab5ec69bb3bbef13661238a87bb",
    "multi": "8c0b0c0d5c2d083a3962e614f995c0a6e36f354c141a062d044efd8c05e8f942",
    "profile": "0c4803701e2b30ae1ffb1683eecc0c124de75fba64ac44ce20c253654b85c71d",
}


def partial_row_digests(spark, lanes=tuple(PARTIAL_ROW_DIGESTS)):
    """``{lane: sha256}`` of each lane's partial rows, sorted by (key,
    partition_id), under seven-row Arrow batches; a blob counts by its
    canonical raw frame, whichever frame the row carries."""
    import hashlib

    from bloomjoin_spark.sketches.base import Sketch

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        out = {}
        for lane in lanes:
            rows = sorted(
                (tuple(r[:5]) + (Sketch.from_bytes(bytes(r[5])).to_bytes(),)
                 for r in _lane_partials(spark, lane).collect()),
                key=lambda t: (str(t[0]), t[1]),
            )
            out[lane] = hashlib.sha256(repr(rows).encode()).hexdigest()
        return out
    finally:
        spark.conf.set(conf, old)


@pytest.mark.parametrize("lane", list(PARTIAL_ROW_DIGESTS))
def test_partial_rows_unchanged(spark, lane):
    """Every builder lane writes the same partial rows, byte for byte:
    partition ids, partial counts, row counts, lineage fingerprints and
    blobs."""
    assert partial_row_digests(spark, [lane]) == {lane: PARTIAL_ROW_DIGESTS[lane]}


# ---------------------------------------------------------------------------
# per-group results pinned per site: every function that folds a group's
# partial rows into its output rows, on the same fixed input
# ---------------------------------------------------------------------------


def _group_results(spark, site, tmp):
    """The rows one per-group result site returns over ``_lane_rows()``
    grouped by ``g`` (a string column with nulls)."""
    from bloomjoin_spark import (
        FrequentDirectionsSketch,
        HllSketch,
        KllSketch,
        TDigestSketch,
        grouped_sketch_estimates,
        grouped_topk,
    )
    from bloomjoin_spark.operators import source_overlap_matrix
    from bloomjoin_spark.sources.skipping import _index_dir, write_bloom_indexed
    from bloomjoin_spark.store import (
        append_sketch_snapshot,
        read_sketch_store,
        store_estimates,
    )
    from bloomjoin_spark.streaming import StreamingSketchCollector

    df = spark.createDataFrame(spark.sparkContext.parallelize(_lane_rows(), 3), _LANE_SCHEMA)
    path = os.path.join(tmp, site)
    if site == "estimates_hll":
        out = grouped_sketch_estimates(df, lambda: HllSketch(10), "g", cols=["s"])
    elif site == "estimates_tdigest_median":
        out = grouped_sketch_estimates(
            df, lambda: TDigestSketch(20), "g", cols=["x"],
            extract=lambda s: s.quantile(0.5),
        )
    elif site == "estimates_fd_trace":
        out = grouped_sketch_estimates(
            df, lambda: FrequentDirectionsSketch(2, 3), "g", cols=["vec"],
            extract=lambda s: float(np.trace(s.gram())),
        )
    elif site == "topk_tokens":
        out = grouped_topk(df, "g", k=3, capacity=4, token_col="toks")
    elif site == "topk_weighted":
        out = grouped_topk(df, "g", k=2, capacity=4, cols=["k"], weight_col="w")
    elif site == "store_estimates":
        for snap in ("s0", "s1"):
            append_sketch_snapshot(df, lambda: HllSketch(10), path, snap, "g", ["s"])
        out = store_estimates(read_sketch_store(spark, path), "g")
    elif site == "source_overlap_matrix":
        out = source_overlap_matrix(df, "g", cols=["s"], k=16)
    elif site == "bloom_index":
        write_bloom_indexed(df, path, "s", fpp=0.01, num_files=3)
        out = spark.read.parquet(_index_dir(path)).select("n_rows", "blob")
    else:
        assert site == "collector", site
        coll = StreamingSketchCollector(lambda: KllSketch(16), cols=["x"], group_col="g")
        coll._process_batch(df, 0)
        sks = [(k, sk.to_bytes()) for k, sk in coll.sketches.items()]
        lineage = [tuple(sorted(e.items(), key=str)) for e in coll.lineage]
        return sks + lineage
    return [tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
            for r in out.collect()]


#: sha256 of each site's sorted result rows, generated before the
#: per-group merges shared one fold and one finisher; ``topk_weighted``
#: re-pinned with ``grouped_weighted_topk``: its null group, now one
#: partial per partition, reports exact counts (error 0)
GROUP_RESULT_DIGESTS = {
    "estimates_hll": "bdfbf36de6ab1576a7865132512be69be8c6e6b3a040071509369e6be4dfb701",
    "estimates_tdigest_median": "0c4cb59ebde1765c2c43989fb0f9bc2652be22a0d6e9732bca3a23355eefa856",
    "estimates_fd_trace": "c157548f6b13d53fbe725be87aaaca41015267ef3f3ccb8c81dba39b663df348",
    "topk_tokens": "34beb3ccf0db746e24d09c53209d8f2bd527b471f4e1329eba75cd0a4f216195",
    "topk_weighted": "035f8d6991e980f0dc1191ba788a832e201ef51ffd0a88788a97c8454fe061a2",
    "store_estimates": "6e1414810ba6153cf607d806af738f707032132ab09c06e36cd6bbd47c12cb06",
    "source_overlap_matrix": "8a0de9b1f5001265050ba0974391340e25b9afadde83f2eefe04832e80ca3bea",
    "bloom_index": "e898dfc15dca59f1a1d4b44a8d41060a375096191f88103a030dbb49e96682aa",
    "collector": "40c6e3ff1ef2ad61ce8f1d46f5b28c75b9bb9591dd9c3fefe23b50d392094780",
}


def group_result_digests(spark, sites=tuple(GROUP_RESULT_DIGESTS)):
    """``{site: sha256}`` of each site's result rows, sorted, under
    seven-row Arrow batches."""
    import hashlib
    import tempfile

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        with tempfile.TemporaryDirectory() as tmp:
            return {
                site: hashlib.sha256(
                    repr(sorted(_group_results(spark, site, tmp), key=repr)).encode()
                ).hexdigest()
                for site in sites
            }
    finally:
        spark.conf.set(conf, old)


@pytest.mark.parametrize("site", list(GROUP_RESULT_DIGESTS))
def test_group_results_unchanged(spark, site):
    """Every per-group result site returns the same rows: group keys,
    estimates, top-k rows, overlap pairs, index blobs and the
    collector's sketches and lineage."""
    assert group_result_digests(spark, [site]) == {site: GROUP_RESULT_DIGESTS[site]}


def test_pandas_lane_keeps_64bit_group_keys(spark):
    """A bigint group column with a null in the same Arrow batch reaches
    the pandas lane as float64; keys above 2^53 must still come back
    exact and apart, as Spark's own groupBy keeps them."""
    from bloomjoin_spark import HllSketch, grouped_sketch_estimates, grouped_topk
    from bloomjoin_spark.aggregate import grouped_sketch_partials

    big = 1 << 53
    rows = [(big, 1, "a", 1), (big + 1, 2, "b", 2), (big + 3, 3, "c", 1),
            (None, 4, "d", 3), (big + 1, 5, "e", 1)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), "g long, a long, b string, w long"
    )
    exp = {r["g"]: r["count"] for r in df.groupBy("g").count().collect()}
    assert len(exp) == 4
    parts = grouped_sketch_partials(df, lambda: HllSketch(10), "g", cols=["a", "b"])
    assert {r["g"]: r["n_rows"] for r in parts.collect()} == exp
    est = grouped_sketch_estimates(df, lambda: HllSketch(10), "g", cols=["a", "b"])
    assert {r["g"]: r["n_rows"] for r in est.collect()} == exp
    top = grouped_topk(df, "g", k=2, cols=["a"], weight_col="w")
    assert {r["g"] for r in top.collect()} == set(exp)


def test_null_group_key_writes_one_partial_per_partition(spark):
    """A null group key is one group: every grouped lane writes one
    partial row per (key, partition), also when the null rows span
    several Arrow batches."""
    from bloomjoin_spark import HllSketch, TopKSketch
    from bloomjoin_spark.aggregate import grouped_sketch_partials

    rows = [(None if i % 3 == 0 else "ab"[i % 2], i % 5, 1 + i % 2) for i in range(40)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), "g string, k long, w long"
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "4")
    try:
        for factory, kw in ((lambda: TopKSketch(4), dict(cols=["k"], weight_col="w")),
                            (lambda: HllSketch(10), dict(cols=["k", "w"]))):
            keys = [(r["g"], r["partition_id"])
                    for r in grouped_sketch_partials(df, factory, "g", **kw).collect()]
            assert sorted(keys, key=repr) == sorted(set(keys), key=repr)
            assert len(keys) == 6
    finally:
        spark.conf.set(conf, old)


def test_estimate_is_null_without_an_estimate_rule(spark, tmp_path):
    """With no ``extract``, a sketch with neither ``estimate()`` nor
    ``total`` reports a null estimate, never 0.0."""
    from bloomjoin_spark import HllSketch, KllSketch, TDigestSketch, grouped_sketch_estimates
    from bloomjoin_spark.store import (
        append_sketch_snapshot,
        read_sketch_store,
        store_estimates,
        store_sketch,
    )

    df = spark.createDataFrame(spark.sparkContext.parallelize(_lane_rows(), 3), _LANE_SCHEMA)
    path = str(tmp_path / "store")
    facs = {"hll": lambda: HllSketch(10), "tdigest": lambda: TDigestSketch(20)}
    append_sketch_snapshot(df, facs, path, "s0", token_col="toks")
    store = read_sketch_store(spark, path)
    est = {r["name"]: r["estimate"] for r in store_estimates(store, "name").collect()}
    hll = store_sketch(store.where(F.col("name") == "hll")).estimate()
    assert est == {"hll": hll, "tdigest": None}
    kll = grouped_sketch_estimates(df, lambda: KllSketch(16), "g", cols=["x"]).collect()
    assert len(kll) == 4
    assert all(r["estimate"] is None for r in kll)


def test_every_partial_build_runs_in_arrow(spark):
    """The partial stages of a two-column key, a weighted grouped top-k
    and a grouped matrix sketch each run one ``MapInArrow`` and no
    ``MapInPandas``."""
    import re

    from bloomjoin_spark import (
        FrequentDirectionsSketch,
        HllSketch,
        grouped_sketch_estimates,
        grouped_topk,
    )
    from bloomjoin_spark.aggregate import sketch_partials

    df = spark.createDataFrame(spark.sparkContext.parallelize(_lane_rows(), 3), _LANE_SCHEMA)
    frames = [
        sketch_partials(df, lambda: HllSketch(10), cols=["s", "k"]),
        grouped_topk(df, "g", k=2, cols=["k"], weight_col="w"),
        grouped_sketch_estimates(df, lambda: FrequentDirectionsSketch(2, 3), "g", cols=["vec"]),
    ]
    for out in frames:
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
        assert not re.search(r"\bMapInPandas\b", plan), plan
