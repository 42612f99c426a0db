"""Round-6 optimization pins: each test guards one internals change made
for performance, so a later edit (or Spark upgrade) that silently undoes
the optimization — or breaks its equivalence argument — fails loudly.
"""

import glob

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# write_bucketed: one file per bucket
# ---------------------------------------------------------------------------

def test_write_bucketed_writes_one_file_per_bucket(spark):
    from bloomjoin_spark.sources import write_bucketed

    df = spark.range(0, 5000, 1, 16).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("v")
    )
    write_bucketed(df, "bj_r6_onefile", by="k", buckets=4)
    try:
        loc = (
            spark.sql("DESCRIBE TABLE EXTENDED bj_r6_onefile")
            .where(F.col("col_name") == "Location")
            .first()["data_type"]
        )
        files = [
            f for f in glob.glob(loc.replace("file:", "") + "/*")
            if not f.endswith("_SUCCESS")
        ]
        # 16 input partitions × 4 buckets would be up to 64 files without
        # the pre-write repartition; the contract is exactly one per bucket
        assert len(files) == 4, files
        got = spark.read.table("bj_r6_onefile").agg(
            F.count(F.lit(1)), F.sum("v")
        ).first()
        assert got[0] == 5000
    finally:
        spark.sql("DROP TABLE IF EXISTS bj_r6_onefile")


# ---------------------------------------------------------------------------
# dedup_clusters: driver union-find ≡ iterative min-label propagation
# ---------------------------------------------------------------------------

def test_union_find_matches_iterative_labels(spark):
    from bloomjoin_spark.operators.dedup import dedup_clusters

    # chain + triangle + isolated edge, ids deliberately out of order
    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 7), (20, 21), (21, 22), (20, 22), (40, 41)],
        "id_a long, id_b long",
    )
    fast = {
        (r["id"], r["cluster_id"])
        for r in dedup_clusters(pairs).collect()
    }
    slow = {
        (r["id"], r["cluster_id"])
        for r in dedup_clusters(pairs, driver_max_edges=0).collect()
    }
    assert fast == slow
    assert (5, 3) in fast and (22, 20) in fast and (41, 40) in fast


def test_union_find_matches_iterative_on_string_ids(spark):
    from bloomjoin_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("z", "x")], "id_a string, id_b string"
    )
    fast = {tuple(r) for r in dedup_clusters(pairs).collect()}
    slow = {
        tuple(r) for r in dedup_clusters(pairs, driver_max_edges=0).collect()
    }
    assert fast == slow
    assert ("c", "a") in fast and ("z", "x") in fast


# ---------------------------------------------------------------------------
# grouped Arrow partials, pinned byte for byte
# ---------------------------------------------------------------------------

#: sha256 of each case's sorted partial rows, pinned when the grouped
#: Arrow builder was compared with the pandas one (same rows, same bytes)
GROUPED_ARROW_DIGESTS = {
    "tokens_hashes": "49198156c0c841821d308b2c581beb1b6b75d3ae4443fc125ae9feafd56c1436",
    "tokens_values": "e913eef01ebc85e0f634b2421f700cb91487c9e17255161cb0c15eff5946c311",
    "string_hashes": "e9a83ffaca09ec6b15a673b8af9f78f2e18096c6f817715c855ce27d50a96401",
    "numeric_values": "3443ef669ef219035160f835e9182b00f803c545b7157e53caef4f0a90c21fc4",
}


@pytest.mark.parametrize("case", list(GROUPED_ARROW_DIGESTS))
def test_grouped_arrow_partials_pinned(spark, case):
    """Grouped partials over a null group, an empty and a null token
    list and a null value, repartitioned by group, keep their bytes (a
    blob by its canonical raw frame)."""
    import hashlib

    from bloomjoin_spark.aggregate import grouped_sketch_partials
    from bloomjoin_spark.sketches import CmsSketch, HllSketch, KllSketch, Sketch
    from bloomjoin_spark.sketches.topk import TopKSketch

    rows = [
        ("a", [1, 2, 2, 3], "k1", 1.5),
        ("a", [2, 3], "k2", 2.5),
        ("b", [], "k1", 7.0),
        ("b", None, None, None),
        (None, [9], "k9", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "g string, toks array<int>, s string, x double"
    ).repartition(2, "g")
    factory, kw = {
        "tokens_hashes": ((lambda: CmsSketch(1e-2, 1e-2)), dict(token_col="toks")),
        "tokens_values": ((lambda: TopKSketch(8)), dict(token_col="toks")),
        "string_hashes": ((lambda: HllSketch(10)), dict(cols=["s"])),
        "numeric_values": ((lambda: KllSketch(64)), dict(cols=["x"])),
    }[case]
    parts = grouped_sketch_partials(df, factory, "g", **kw)
    assert "MapInArrow" in parts._jdf.queryExecution().executedPlan().toString()
    got = sorted(((r[0], r["partition_id"], r["n_partials"], r["n_rows"], r["fingerprint"],
                   Sketch.from_bytes(bytes(r["blob"])).to_bytes()) for r in parts.collect()),
                 key=repr)
    assert hashlib.sha256(repr(got).encode()).hexdigest() == GROUPED_ARROW_DIGESTS[case]


# ---------------------------------------------------------------------------
# BloomSketch insert: loop form ≡ the (n, k) probe-matrix form
# ---------------------------------------------------------------------------

def _probe_matrix(h: np.ndarray, k: int, m: int) -> np.ndarray:
    """(len(h), k) uint64 positions of Spark's BloomFilterImplV2, in
    the plain matrix form — the reference ``BloomSketch``'s insert
    loops must match."""
    from bloomjoin_spark.sketches.bloom import _spark_pair

    base, lo = _spark_pair(h.astype(np.uint64, copy=False))
    c = base[:, None] + np.arange(1, k + 1, dtype=np.int64)[None, :] * lo[:, None]
    return (np.where(c < 0, ~c, c) % m).astype(np.uint64)


@pytest.mark.parametrize("n,nh", [(5000, 3000), (100, 10)])
def test_set_bits_matches_probe_matrix(n, nh):
    from bloomjoin_spark.sketches.bloom import BloomSketch

    h = np.random.default_rng(7).integers(0, 2**63, nh, dtype=np.int64).view(
        np.uint64
    )
    new = BloomSketch(n, 0.01)
    new.update_hashes(h)
    new.seal()
    ref = BloomSketch(n, 0.01)
    ref._sparse = None
    idx = _probe_matrix(np.unique(h), ref.k, ref.m)
    bools = np.zeros(ref.m, dtype=bool)
    bools[idx.ravel()] = True
    packed = np.packbits(bools, bitorder="little")
    np.bitwise_or(ref.words, packed.view(np.uint64), out=ref._words)
    assert (new.words == ref.words).all()
    assert new.contains_hashes(h).all()


# ---------------------------------------------------------------------------
# span dedup: the Python probe's input must be a stored ladder attribute,
# never an inlined split()-per-element re-evaluation
# ---------------------------------------------------------------------------

def test_span_probe_input_is_checkpointed_attribute(spark):
    from bloomjoin_spark.operators import remove_duplicate_spans, words_col

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again") for i in range(6)],
        "doc_id long, text string",
    ).select("doc_id", words_col(F.col("text")).alias("w"))
    out = remove_duplicate_spans(docs, n=3, tokens_col="w", id_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "ArrowEvalPython" in line:
            # the probe argument is the checkpointed __sp_harr attribute;
            # an inlined ladder would re-split the text per element
            assert "split(" not in line, line
