"""Persistent sketch store tests: incremental append, blob-only
estimates, idempotent snapshot replacement, hash-domain guard."""

import numpy as np
import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from bloomjoin_spark import HllSketch
from bloomjoin_spark.store import (
    append_sketch_snapshot,
    read_sketch_store,
    store_estimates,
    store_sketch,
)
from conftest import tagged_jobs


def _docs(spark, lo, hi, nparts=4):
    return (
        spark.range(lo, hi)
        .repartition(nparts)
        .select(
            F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
            F.concat(F.lit("src"), F.pmod(F.col("id"), F.lit(3))).alias("source"),
        )
    )


def test_incremental_append_matches_full_build(spark, tmp_path):
    path = str(tmp_path / "store")
    append_sketch_snapshot(
        _docs(spark, 0, 3000), lambda: HllSketch(12), path, "day1", cols=["doc_id"]
    )
    append_sketch_snapshot(
        _docs(spark, 3000, 5000), lambda: HllSketch(12), path, "day2", cols=["doc_id"]
    )
    store = read_sketch_store(spark, path)
    assert store.select("snapshot").distinct().count() == 2
    merged = store_sketch(store)
    # merge associativity: blob-only merge == one sketch over all rows
    from bloomjoin_spark import build_sketch

    full = build_sketch(
        _docs(spark, 0, 5000), lambda: HllSketch(12), cols=["doc_id"]
    ).sketch
    assert merged.estimate() == pytest.approx(full.estimate())
    # and within the published bound of the exact count
    assert abs(merged.estimate() - 5000) / 5000 <= 4 * 1.04 / 2**6


def test_grouped_store_estimates(spark, tmp_path):
    path = str(tmp_path / "gstore")
    append_sketch_snapshot(
        _docs(spark, 0, 3000),
        lambda: HllSketch(12),
        path,
        "day1",
        group_col="source",
        cols=["doc_id"],
    )
    append_sketch_snapshot(
        _docs(spark, 3000, 5000),
        lambda: HllSketch(12),
        path,
        "day2",
        group_col="source",
        cols=["doc_id"],
    )
    est = store_estimates(read_sketch_store(spark, path), "source").collect()
    got = {r["source"]: r for r in est}
    assert set(got) == {"src0", "src1", "src2"}
    rel = 4 * 1.04 / 2**6
    for src, r in got.items():
        exact = len([i for i in range(5000) if i % 3 == int(src[-1])])
        assert r["n_rows"] == exact  # exact ingested totals ride along
        assert abs(r["estimate"] - exact) / exact <= rel


def test_snapshot_rewrite_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "istore")
    day1 = _docs(spark, 0, 1000)
    append_sketch_snapshot(day1, lambda: HllSketch(12), path, "day1", cols=["doc_id"])
    # a retried/corrected ingest of the SAME snapshot replaces, not doubles
    append_sketch_snapshot(day1, lambda: HllSketch(12), path, "day1", cols=["doc_id"])
    store = read_sketch_store(spark, path)
    assert store.agg(F.sum("n_rows")).first()[0] == 1000
    # and only the rewritten snapshot is touched
    append_sketch_snapshot(
        _docs(spark, 1000, 1500), lambda: HllSketch(12), path, "day2", cols=["doc_id"]
    )
    append_sketch_snapshot(day1, lambda: HllSketch(12), path, "day1", cols=["doc_id"])
    store = read_sketch_store(spark, path)
    assert store.agg(F.sum("n_rows")).first()[0] == 1500


@pytest.mark.parametrize("cached", [False, True])
def test_empty_reingest_replaces_snapshot(spark, tmp_path, cached):
    """Re-ingesting a snapshot with no rows replaces its partials — also
    for a cached input, whose ingest runs fewer Python tasks than input
    partitions — and the snapshot then merges to an empty sketch, for
    the single- and the multi-sketch ingest."""
    from bloomjoin_spark import CmsSketch

    # four partitions without rows (an empty range or shuffle has zero
    # partitions, and zero tasks write nothing at all)
    empty = spark.range(0, 4, 1, 4).where(F.col("id") < 0).select(
        F.col("id").cast("string").alias("doc_id"),
        F.array(F.lit(1)).alias("tokens"),
    )
    full = _docs(spark, 0, 3000).select(
        "doc_id", F.array(F.length("doc_id")).alias("tokens")
    )
    if cached:
        empty, full = empty.persist(), full.persist()
        empty.count(), full.count()
    facs = {"hll": lambda: HllSketch(12), "cms": lambda: CmsSketch(0.01, 0.01)}
    for kind, factory, kw in (
        ("single", lambda: HllSketch(12), {"cols": ["doc_id"]}),
        ("multi", facs, {"token_col": "tokens"}),
    ):
        path = str(tmp_path / kind)
        append_sketch_snapshot(full, factory, path, "day1", **kw)
        append_sketch_snapshot(empty, factory, path, "day1", **kw)
        store = read_sketch_store(spark, path)
        assert store.agg(F.sum("n_rows")).first()[0] == 0, kind
        names = ["hll", "cms"] if kind == "multi" else [None]
        for name in names:
            part = store if name is None else store.where(F.col("name") == name)
            want = (HllSketch(12) if name != "cms" else facs["cms"]()).to_bytes()
            assert store_sketch(part).to_bytes() == want, (kind, name)
    if cached:
        empty.unpersist()
        full.unpersist()


def test_snapshot_filter(spark, tmp_path):
    path = str(tmp_path / "fstore")
    append_sketch_snapshot(
        _docs(spark, 0, 1000), lambda: HllSketch(12), path, "day1", cols=["doc_id"]
    )
    append_sketch_snapshot(
        _docs(spark, 1000, 2000), lambda: HllSketch(12), path, "day2", cols=["doc_id"]
    )
    one = read_sketch_store(spark, path, snapshots=["day2"])
    assert one.agg(F.sum("n_rows")).first()[0] == 1000
    est = store_sketch(one).estimate()
    assert abs(est - 1000) / 1000 <= 4 * 1.04 / 2**6


def test_sink_batch_replay_is_exactly_once(spark, tmp_path):
    from bloomjoin_spark.store import _store_batch_fn

    path = str(tmp_path / "sink")
    fn = _store_batch_fn(
        lambda: HllSketch(12), path, "source", ["doc_id"], None, "batch"
    )
    fn(_docs(spark, 0, 1000), 0)
    fn(_docs(spark, 1000, 1800), 1)
    # restart-from-checkpoint replays the last batch with the same id:
    # the store must rewrite, not double-count
    fn(_docs(spark, 1000, 1800), 1)
    store = read_sketch_store(spark, path)
    assert store.agg(F.sum("n_rows")).first()[0] == 1800
    est = {r["source"]: r for r in store_estimates(store, "source").collect()}
    rel = 4 * 1.04 / 2**6
    for src, r in est.items():
        exact = len([i for i in range(1800) if i % 3 == int(src[-1])])
        assert r["n_rows"] == exact
        assert abs(r["estimate"] - exact) / exact <= rel


def test_sink_streams_documents(spark, tmp_path):
    from bloomjoin_spark.store import sketch_store_sink

    src_dir = str(tmp_path / "in")
    _docs(spark, 0, 600, nparts=2).write.parquet(src_dir, mode="overwrite")
    stream = (
        spark.readStream.schema("doc_id string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    path = str(tmp_path / "sstore")
    q = sketch_store_sink(
        stream, lambda: HllSketch(12), path, group_col="source", cols=["doc_id"]
    ).start()
    q.processAllAvailable()
    q.stop()
    store = read_sketch_store(spark, path)
    assert store.agg(F.sum("n_rows")).first()[0] == 600


def test_multi_sketch_store_one_scan(spark, tmp_path):
    from bloomjoin_spark import CmsSketch

    path = str(tmp_path / "multi")

    def toks(lo, hi):
        return (
            spark.range(lo, hi)
            .repartition(4)
            .select(
                F.array(
                    F.pmod(F.col("id"), F.lit(100)).cast("int"),
                    F.pmod(F.col("id") * 7, F.lit(100)).cast("int"),
                ).alias("tokens")
            )
        )

    facs = {
        "hll": lambda: HllSketch(12),
        "cms": lambda: CmsSketch(1e-3, 1e-3),
    }
    append_sketch_snapshot(toks(0, 1500), facs, path, "day1", token_col="tokens")
    append_sketch_snapshot(toks(1500, 2000), facs, path, "day2", token_col="tokens")
    store = read_sketch_store(spark, path)
    # both sketches' partials from each scan, per-name accounting equal
    per_name = {r["name"]: r for r in store_estimates(store, "name").collect()}
    assert set(per_name) == {"hll", "cms"}
    assert per_name["hll"]["n_rows"] == per_name["cms"]["n_rows"] == 2000
    # distinct token ids across the whole store: exactly 100
    hll = store_sketch(store.where(F.col("name") == "hll"))
    assert abs(hll.estimate() - 100) / 100 <= 4 * 1.04 / 2**6
    # per-token frequencies from the durable CMS: token 0 appears in
    # ids {0,100,...} (first slot) plus multiples of 100/7 — just pin
    # the never-undercount property on a known-hot token
    cms = store_sketch(store.where(F.col("name") == "cms"))
    import numpy as np

    from bloomjoin_spark.hashing import hash_float64

    h = hash_float64(np.array([0.0]))
    assert cms.query_hashes(h)[0] >= 20  # id%100==0 → 20 first-slot hits

    with pytest.raises(ValueError, match="multi-sketch"):
        append_sketch_snapshot(
            toks(0, 10), facs, path, "day3", group_col="name", token_col="tokens"
        )


#: every way a caller reads store rows; each must meet the per-row guard
#: at its first action (``select("blob")``: column pruning cannot drop it)
_CONSUMERS = {
    "store_sketch": store_sketch,
    "store_estimates": lambda st: store_estimates(st, "snapshot").collect(),
    "count": lambda st: st.count(),
    "select_blob": lambda st: st.select("blob").collect(),
}


def _refused_at_every_consumer(spark, path, match):
    """Reading the store runs nothing; each consumer's first action
    raises the curated refusal, and a read that excludes the foreign
    snapshot still merges."""
    store = read_sketch_store(spark, path)
    for consume in _CONSUMERS.values():
        with pytest.raises(SparkRuntimeException, match=match):
            consume(store)
    ok = read_sketch_store(spark, path, snapshots=["day1"])
    assert ok.count() > 0
    assert abs(store_sketch(ok).estimate() - 500) / 500 <= 4 * 1.04 / 2**6


def test_mixed_hash_format_refused(spark, tmp_path):
    path = str(tmp_path / "mstore")
    append_sketch_snapshot(
        _docs(spark, 0, 500), lambda: HllSketch(12), path, "day1", cols=["doc_id"]
    )
    # simulate a snapshot written by an older library version
    rows = spark.read.parquet(path).collect()
    old = (
        spark.createDataFrame(rows)
        .withColumn("hash_format", F.lit(1))
        .withColumn("snapshot", F.lit("day0"))
    )
    old.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("snapshot").parquet(path)
    _refused_at_every_consumer(
        spark, path, r"USER_RAISED_EXCEPTION.*mstore' holds hash format\(s\) \[1\], "
        r"this library hashes format \d+: merging mixed domains"
    )


def test_unstamped_snapshot_refused(spark, tmp_path):
    """A snapshot with no ``hash_format`` column (null under
    ``mergeSchema``) is a foreign domain too: the curated error, not a
    comparison of None with the stamps."""
    path = str(tmp_path / "ustore")
    append_sketch_snapshot(
        _docs(spark, 0, 500), lambda: HllSketch(12), path, "day1", cols=["doc_id"]
    )
    rows = spark.read.parquet(path).drop("hash_format").collect()
    spark.createDataFrame(rows).withColumn("snapshot", F.lit("day0")).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy("snapshot").parquet(path)
    _refused_at_every_consumer(spark, path, r"hash format\(s\) \[None\]")


def test_store_read_and_merge_jobs(spark, tmp_path):
    """Reading a store (schema check, hash-format guard) runs no tagged
    job, and merging it into one sketch runs one: the guard rides the
    merge's own scan."""
    path = str(tmp_path / "jstore")
    for day, (lo, hi) in {"day1": (0, 300), "day2": (300, 600)}.items():
        append_sketch_snapshot(
            _docs(spark, lo, hi), lambda: HllSketch(12), path, day, cols=["doc_id"]
        )
    store, n_read = tagged_jobs(spark, lambda: read_sketch_store(spark, path))
    sk, n_merge = tagged_jobs(spark, lambda: store_sketch(store))
    assert abs(sk.estimate() - 600) / 600 <= 4 * 1.04 / 2**6
    assert (n_read, n_merge) == (0, 1)


def test_foreign_dir_missing_payload_columns_curated_error(spark, tmp_path):
    """A parquet dir carrying only PART of the partial payload (no
    n_partials/fingerprint) must fail read_sketch_store's required-
    column check with the curated error, not UNRESOLVED_COLUMN later
    inside store_sketch's tree merge."""
    p = str(tmp_path / "not_a_store")
    spark.range(3).select(
        F.col("id").alias("partition_id"),
        F.lit(1).cast("long").alias("n_rows"),
        F.lit(b"x").alias("blob"),
        F.lit("day1").alias("snapshot"),
        F.lit(2).cast("long").alias("hash_format"),
    ).write.partitionBy("snapshot").parquet(p)
    with pytest.raises(ValueError, match="missing required column"):
        read_sketch_store(spark, p)


def test_fd_sketch_rides_the_store(spark, tmp_path):
    """The matrix sketch is a first-class store citizen: two snapshots
    of embedding rows land as FD partials via the shared vectors lane,
    and the blob-only merged gram is EXACT over both snapshots (ell
    above the total row count) — embedding-drift monitoring without
    rescanning history."""
    import numpy as np

    from bloomjoin_spark import FrequentDirectionsSketch
    from bloomjoin_spark.store import (
        append_sketch_snapshot,
        read_sketch_store,
        store_sketch,
    )

    def _vecs(lo, hi):
        import pyspark.sql.functions as F

        return spark.range(lo, hi, 1, 3).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda j: (F.xxhash64(F.col("id"), j) % 100).cast("double")
                / 100.0,
            ).alias("embedding"),
        )

    path = str(tmp_path / "fd_store")
    factory = lambda: FrequentDirectionsSketch(ell=256, dim=8)  # noqa: E731
    append_sketch_snapshot(_vecs(0, 100), factory, path, "day1",
                           cols=["embedding"])
    append_sketch_snapshot(_vecs(100, 180), factory, path, "day2",
                           cols=["embedding"])
    merged = store_sketch(read_sketch_store(spark, path))
    assert isinstance(merged, FrequentDirectionsSketch)
    assert merged.n_rows == 180 and merged.is_exact
    A = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in _vecs(0, 180).collect()]
    )
    assert np.allclose(merged.gram(), A.T @ A, rtol=1e-9, atol=1e-9)


def test_store_sketch_keeps_the_fanin_bound(spark, tmp_path, monkeypatch):
    """A snapshot ingested from a cached input writes many partial rows
    into one file (one coalesced task); the store merge plans its rounds
    from the footer row bound, so the driver never folds more than
    ``fanin`` blobs, and the estimate equals a fresh build's."""
    import bloomjoin_spark.store as store_mod
    from bloomjoin_spark import build_sketch

    df = spark.range(0, 20000, 1, 200).cache()
    df.count()
    path = str(tmp_path / "store")
    try:
        append_sketch_snapshot(df, lambda: HllSketch(12), path, "d1", cols=["id"])
        store = read_sketch_store(spark, path)
        assert store.count() == 200
        assert len(store.inputFiles()) == 1
        rounds = []
        real = store_mod.tree_merge

        def spy(*args, **kw):
            out = real(*args, **kw)
            rounds.append(out[1])
            return out

        monkeypatch.setattr(store_mod, "tree_merge", spy)
        sk = store_sketch(store, fanin=64)
        assert rounds == [1]
        assert sk.to_bytes() == build_sketch(df, lambda: HllSketch(12), cols=["id"]).sketch.to_bytes()
    finally:
        df.unpersist()


def test_store_of_raw_and_packed_snapshots(spark, tmp_path):
    """A store holding one snapshot in the raw frame, as releases before
    the packed frame wrote it, and one packed snapshot merges to the
    same sketch and per-group estimates as a fresh build."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomjoin_spark import build_sketch, grouped_sketch_estimates
    from bloomjoin_spark.sketches.base import Sketch

    path = str(tmp_path / "store")
    for snap, (lo, hi) in {"day1": (0, 3000), "day2": (3000, 5000)}.items():
        append_sketch_snapshot(_docs(spark, lo, hi), lambda: HllSketch(12), path, snap,
                               group_col="source", cols=["doc_id"])
    for f in glob.glob(os.path.join(path, "snapshot=day1", "*.parquet")):
        t = pq.ParquetFile(f).read()
        raw = [Sketch.from_bytes(b).to_bytes() for b in t["blob"].to_pylist()]
        t = t.set_column(t.schema.get_field_index("blob"), "blob", pa.array(raw, pa.binary()))
        pq.write_table(t, os.path.join(os.path.dirname(f), "raw-" + os.path.basename(f)))
        os.remove(f)
    store = read_sketch_store(spark, path)
    magic = {(r["snapshot"], bytes(r["blob"])[:4]) for r in store.collect()}
    assert {m for s, m in magic if s == "day1"} == {b"BJSK"}
    assert ("day2", b"BJSZ") in magic

    full = _docs(spark, 0, 5000)
    fresh = build_sketch(full, lambda: HllSketch(12), cols=["doc_id"]).sketch
    assert store_sketch(store).to_bytes() == fresh.to_bytes()
    want = grouped_sketch_estimates(full, lambda: HllSketch(12), "source", cols=["doc_id"])
    assert sorted(map(tuple, store_estimates(store, "source").collect())) == sorted(
        map(tuple, want.collect()))
