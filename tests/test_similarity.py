"""Similarity search tests (embeddings table)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomjoin_spark.operators import (
    ann_lsh_topk,
    cosine_topk,
    embedding_near_dup_pairs,
)
from conftest import tagged_jobs


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_bruteforce_topk_matches_numpy(spark, emb, queries):
    got = cosine_topk(emb, queries, k=5).toPandas()
    # numpy oracle
    pdf = emb.toPandas()
    V = np.stack(pdf["embedding"].map(np.asarray))
    ids = pdf["vec_id"].to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    qdf = queries.toPandas()
    for _, qrow in qdf.iterrows():
        qv = np.asarray(qrow["embedding"], dtype=np.float64)
        sims = Vn @ (qv / np.linalg.norm(qv))
        order = np.lexsort((ids, -np.round(sims, 6)))[:5]
        expect = list(ids[order])
        mine = got[got.query_id == qrow["query_id"]].sort_values("rank")["vec_id"].tolist()
        assert mine == expect


def test_topk_self_match_first(emb, queries):
    got = cosine_topk(emb, queries, k=1).toPandas()
    assert (got["vec_id"] == got["query_id"]).all()
    assert (got["sim"] >= 0.999999).all()


def test_ann_lsh_recall(emb, queries):
    exact = cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = ann_lsh_topk(emb, queries, k=10, bands=16, nbits=64).select(
        "query_id", "vec_id"
    )
    inter = exact.intersect(approx).count()
    recall = inter / exact.count()
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_embedding_near_dup_pairs(spark, emb):
    # plant near-identical vectors
    dup = emb.limit(5).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    both = emb.unionByName(dup)
    pairs = embedding_near_dup_pairs(both, threshold=0.999)
    found = pairs.filter(F.col("id_b") - F.col("id_a") == 1_000_000).count()
    assert found == 5
    assert pairs.filter(F.col("sim") < 0.999).count() == 0


def test_ann_ivf_recall_and_determinism(spark, sf_dir):
    """IVF ANN: recall@10 vs brute-force ≥ 0.5 at small nprobe, exact
    when probing every cell; centroid training is deterministic."""
    import numpy as np

    from bloomjoin_spark.operators import (
        ann_ivf_topk,
        cosine_topk,
        train_ivf_centroids,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = ann_ivf_topk(emb, queries, k=10, nlist=8, nprobe=3).select(
        "query_id", "vec_id"
    )
    hit = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    assert hit / exact.count() >= 0.5
    # nprobe == nlist → candidate set is the whole corpus → exact result
    full = ann_ivf_topk(emb, queries, k=10, nlist=8, nprobe=8).select(
        "query_id", "vec_id"
    )
    assert exact.exceptAll(full).count() == 0 and full.exceptAll(exact).count() == 0
    c1 = train_ivf_centroids(emb, nlist=8)
    c2 = train_ivf_centroids(emb, nlist=8)
    assert np.array_equal(c1, c2)


def test_embedding_dedup_keeps_min_id(spark):
    """Semantic dedup tier: near-identical vectors collapse to the
    min-id representative; orthogonal vectors survive."""
    from bloomjoin_spark.operators import embedding_dedup

    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(20):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
        if i % 4 == 0:  # near-dup: tiny perturbation, same direction
            w = v + rng.normal(scale=1e-4, size=16)
            w /= np.linalg.norm(w)
            rows.append((100 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = embedding_dedup(df, threshold=0.999)
    ids = sorted(r.vec_id for r in kept.collect())
    assert all(i < 100 for i in ids)
    assert len(ids) == 20


class TestProductQuantization:
    def _books(self, spark, emb):
        from bloomjoin_spark.operators import train_pq_codebooks

        return train_pq_codebooks(emb, m=8, nbits=8, sample=2000, iters=6)

    def test_train_shape_and_determinism(self, spark, emb):
        from bloomjoin_spark.operators import train_pq_codebooks

        b1 = self._books(spark, emb)
        b2 = self._books(spark, emb)
        assert b1.shape == (8, 256, 8)
        np.testing.assert_array_equal(b1, b2)

    def test_train_validation(self, spark, emb):
        from bloomjoin_spark.operators import train_pq_codebooks

        with pytest.raises(ValueError, match="divisible"):
            train_pq_codebooks(emb, m=7)
        with pytest.raises(ValueError, match="nbits"):
            train_pq_codebooks(emb, nbits=9)
        with pytest.raises(ValueError, match="m must"):
            train_pq_codebooks(emb, m=0)

    def test_codes_shape_and_null_handling(self, spark, emb):
        from bloomjoin_spark.operators import add_pq_codes

        books = self._books(spark, emb)
        bad = spark.createDataFrame(
            [(900001, None), (900002, []), (900003, [1.0, 2.0])],
            "vec_id long, embedding array<float>",
        )
        out = add_pq_codes(
            emb.select("vec_id", "embedding").unionByName(bad), books
        ).collect()
        by_id = {r.vec_id: r.pq_code for r in out}
        # null / empty / wrong-dim vectors -> NULL code
        assert by_id[900001] is None and by_id[900002] is None
        assert by_id[900003] is None
        real = [c for i, c in by_id.items() if i < 900000]
        assert all(c is not None and len(c) == 8 for c in real)
        with pytest.raises(ValueError, match="already exists"):
            add_pq_codes(emb.withColumn("pq_code", F.lit(b"")), books)

    def test_exactly_representable_vectors_score_exactly(self, spark):
        """With hand-built codebooks and corpus vectors that ARE
        codeword concatenations (unit norm, so the encode-side
        normalization is a no-op), quantization is lossless: the ADC
        score is the exact cosine, so even shortlist=1 finds the true
        top-1 (self, sim 1.0) for every query."""
        from bloomjoin_spark.operators import ann_pq_topk

        # 2 subspaces × 4 codewords of norm 1/√2: every concatenation
        # is a unit vector and exactly representable
        angles = np.array([0.1, 0.7, 1.6, 2.9])
        cw = np.stack([np.cos(angles), np.sin(angles)], axis=1) / np.sqrt(2)
        books = np.stack([cw, cw[::-1]])  # (m=2, k=4, dsub=2)
        vecs = [
            np.concatenate([books[0, a], books[1, b]])
            for a in range(4) for b in range(4)
        ]
        corpus = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        q = corpus.filter(F.col("vec_id") % 5 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = ann_pq_topk(corpus, q, books, k=1, shortlist=1).collect()
        assert len(got) == 4
        assert all(r.vec_id == r.query_id and r.sim == 1.0 for r in got)

    def test_full_shortlist_is_exact(self, spark, emb, queries):
        """shortlist >= |corpus| makes the re-rank see every vector:
        PQ output == brute-force cosine_topk exactly."""
        from bloomjoin_spark.operators import ann_pq_topk

        books = self._books(spark, emb)
        n = emb.count()
        exact = cosine_topk(emb, queries, k=5).select("query_id", "vec_id", "sim")
        approx = ann_pq_topk(emb, queries, books, k=5, shortlist=n).select(
            "query_id", "vec_id", "sim"
        )
        assert exact.exceptAll(approx).count() == 0
        assert approx.exceptAll(exact).count() == 0

    def test_recall_and_precomputed_codes_path(self, spark, emb, queries):
        from bloomjoin_spark.operators import add_pq_codes, ann_pq_topk

        books = self._books(spark, emb)
        exact = cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
        codes = add_pq_codes(emb.select("vec_id", "embedding"), books).select(
            "vec_id", "pq_code"
        )
        approx = ann_pq_topk(
            emb, queries, books, k=10, codes=codes, shortlist=80
        ).select("query_id", "vec_id")
        hit = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
        assert hit / max(exact.count(), 1) >= 0.5
        with pytest.raises(ValueError, match="shortlist"):
            ann_pq_topk(emb, queries, books, k=10, shortlist=5)

    def test_edge_inputs_and_nonlong_qid(self, spark):
        """Review fixes: int (non-long) query ids must not break the
        Arrow schema; empty / null-vector queries degrade gracefully;
        duplicate ids in a user codes table don't duplicate top-k rows."""
        from bloomjoin_spark.operators import add_pq_codes, ann_pq_topk

        angles = np.array([0.3, 1.1, 2.0, 2.8])
        cw = np.stack([np.cos(angles), np.sin(angles)], axis=1) / np.sqrt(2)
        books = np.stack([cw, cw])
        vecs = [
            np.concatenate([books[0, a], books[1, b]]).tolist()
            for a in range(4) for b in range(4)
        ]
        corpus = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        # int (32-bit) query id
        q_int = spark.createDataFrame(
            [(3, vecs[3])], "query_id int, embedding array<float>"
        )
        got = ann_pq_topk(corpus, q_int, books, k=1, shortlist=1).collect()
        assert got[0].vec_id == 3 and got[0].sim == 1.0
        # empty queries -> empty result with the output schema
        q_empty = q_int.limit(0)
        out = ann_pq_topk(corpus, q_empty, books, k=1)
        assert out.count() == 0
        assert set(out.columns) == {"query_id", "vec_id", "sim", "rank"}
        # a NULL-vector query yields no rows for that query
        q_null = spark.createDataFrame(
            [(9, None), (3, vecs[3])], "query_id int, embedding array<float>"
        )
        got2 = ann_pq_topk(corpus, q_null, books, k=1, shortlist=1).collect()
        assert {r.query_id for r in got2} == {3}
        # duplicated codes rows don't duplicate candidates
        codes = add_pq_codes(corpus, books)
        dup_codes = codes.select("vec_id", "pq_code").unionAll(
            codes.select("vec_id", "pq_code")
        )
        got3 = ann_pq_topk(
            corpus, q_int, books, k=3, codes=dup_codes, shortlist=3
        ).collect()
        ids = [r.vec_id for r in got3]
        assert len(ids) == len(set(ids)) == 3


class TestIvfPq:
    def test_recall_full_probe_exactness_and_pruned_scan(self, spark, emb, queries):
        from bloomjoin_spark.operators import (
            add_ivf_cluster,
            add_pq_codes,
            ann_ivf_pq_topk,
            train_ivf_centroids,
            train_pq_codebooks,
        )

        cents = train_ivf_centroids(emb, nlist=8, sample=2000)
        books = train_pq_codebooks(emb, m=8, nbits=8, sample=2000, iters=6)
        codes = add_pq_codes(
            add_ivf_cluster(
                emb.select("vec_id", "embedding"), cents, out_col="ivf_cell"
            ),
            books,
        ).select("vec_id", "ivf_cell", "pq_code")
        exact = cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
        approx = ann_ivf_pq_topk(
            emb, queries, cents, books, k=10, nprobe=3, codes=codes,
            shortlist=80,
        ).select("query_id", "vec_id")
        hit = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
        assert hit / max(exact.count(), 1) >= 0.5
        # full probe + full shortlist == brute force exactly
        n = emb.count()
        full = ann_ivf_pq_topk(
            emb, queries, cents, books, k=10, nprobe=8, codes=codes,
            shortlist=n,
        ).select("query_id", "vec_id", "sim")
        exact_s = cosine_topk(emb, queries, k=10).select(
            "query_id", "vec_id", "sim"
        )
        assert exact_s.exceptAll(full).count() == 0
        assert full.exceptAll(exact_s).count() == 0
        # a query never surfaces a candidate outside its probed cells:
        # nprobe=1 means every candidate shares the query's own cell
        one = ann_ivf_pq_topk(
            emb, queries, cents, books, k=5, nprobe=1, codes=codes,
        )
        cells = {r.vec_id: r.ivf_cell for r in codes.collect()}
        for r in one.collect():
            assert cells[r.vec_id] == cells[r.query_id]

    def test_edge_validation(self, spark, emb, queries):
        from bloomjoin_spark.operators import (
            ann_ivf_pq_topk,
            ann_ivf_topk,
            ann_ivf_topk_partitioned,
            train_ivf_centroids,
            train_pq_codebooks,
        )

        cents = train_ivf_centroids(emb, nlist=4, sample=500)
        books = train_pq_codebooks(emb, m=8, nbits=4, sample=500, iters=3)
        with pytest.raises(ValueError, match="nprobe"):
            ann_ivf_pq_topk(emb, queries, cents, books, nprobe=0)
        # one nprobe rule on every IVF query path
        with pytest.raises(ValueError, match="nprobe"):
            ann_ivf_topk(emb, queries, nlist=4, nprobe=0)
        with pytest.raises(ValueError, match="nprobe"):
            ann_ivf_topk_partitioned(spark, "unused", queries, cents, nprobe=0)
        with pytest.raises(ValueError, match="shortlist"):
            ann_ivf_pq_topk(emb, queries, cents, books, k=10, shortlist=2)
        out = ann_ivf_pq_topk(emb, queries.limit(0), cents, books, k=3)
        assert out.count() == 0


def test_ivf_rejects_wrong_dim_vectors(spark, tmp_path):
    """A non-empty vector whose length is not the centroid dim raises on
    every IVF path; it is never read as misaligned centroid-dim rows of
    the batch's flat buffer.  NULL and empty vectors keep cell 0."""
    from bloomjoin_spark.operators import (
        add_ivf_cluster,
        ann_ivf_topk,
        ann_ivf_topk_partitioned,
        write_ivf_partitioned,
    )

    cents = np.eye(4)
    # one batch: its flat buffer holds 8 values, two misaligned 4-vectors
    bad = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    with pytest.raises(Exception, match="length 4"):
        add_ivf_cluster(bad, cents).collect()
    with pytest.raises(Exception, match="length 4"):
        write_ivf_partitioned(bad, cents, str(tmp_path / "bad"))
    good = spark.createDataFrame(
        [(i, [float(i % 4 == j) for j in range(4)]) for i in range(8)]
        + [(8, None), (9, [])],
        "vec_id long, embedding array<double>",
    )
    cells = {r.vec_id: r.ivf_cluster for r in add_ivf_cluster(good, cents).collect()}
    assert cells == {**{i: i % 4 for i in range(8)}, 8: 0, 9: 0}
    path = str(tmp_path / "good")
    write_ivf_partitioned(good, cents, path)
    q_bad = bad.withColumnRenamed("vec_id", "query_id")
    with pytest.raises(Exception, match="length 4"):
        ann_ivf_topk_partitioned(spark, path, q_bad, cents, nprobe=1).collect()
    with pytest.raises(Exception, match="length 4"):
        ann_ivf_topk(good, q_bad, nlist=2, nprobe=1).collect()


def test_ivf_single_probe(spark, tmp_path):
    """``nprobe=1`` probes each query's own cell on both IVF query paths
    (the probe stage once returned an int cell where it declared
    array<int>, and the action failed)."""
    from bloomjoin_spark.operators import (
        add_ivf_cluster,
        ann_ivf_topk,
        ann_ivf_topk_partitioned,
        write_ivf_partitioned,
    )

    cents = np.eye(4)
    df = spark.createDataFrame(
        [(i, [float(i % 4 == j) + 0.01 * i for j in range(4)]) for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    q = df.withColumnRenamed("vec_id", "query_id")
    cells = {r.vec_id: r.ivf_cluster for r in add_ivf_cluster(df, cents).collect()}
    path = str(tmp_path / "ivf")
    write_ivf_partitioned(df, cents, path)
    got = ann_ivf_topk_partitioned(spark, path, q, cents, k=2, nprobe=1).collect()
    assert len(got) == 32
    assert all(cells[r.vec_id] == cells[r.query_id] for r in got)
    assert ann_ivf_topk(df, q, k=2, nlist=4, nprobe=1).count() == 32


def _schema_case(spark, op):
    """(frame with a ``doc id`` column, call, output column) of one
    column stage."""
    from bloomjoin_spark import FrequentDirectionsSketch
    from bloomjoin_spark import operators as ops

    df = spark.createDataFrame(
        [(1, "a b c", [5, 6], [1.0, 0.0, 0.0, 0.0]),
         (2, "b c d", [6, 7], [0.0, 0.0, 2.0, 0.0])],
        "`doc id` long, text string, shingles array<bigint>, embedding array<double>",
    )
    sk = FrequentDirectionsSketch(ell=4, dim=4)
    sk.update_matrix(np.eye(4))
    books = np.stack([np.eye(2), np.eye(2)])
    calls = {
        "add_minhash_signature": (lambda d: ops.add_minhash_signature(d, num_perm=4), "minhash"),
        "add_simhash": (ops.add_simhash, "simhash"),
        "add_lsh_signature": (lambda d: ops.add_lsh_signature(d, nbits=8), "lsh_sig"),
        "add_ivf_cluster": (lambda d: ops.add_ivf_cluster(d, np.eye(4)), "ivf_cluster"),
        "add_pq_codes": (lambda d: ops.add_pq_codes(d, books), "pq_code"),
        "pca_project": (lambda d: ops.pca_project(d, "embedding", sk, k=2), "pca"),
    }
    call, out_col = calls[op]
    return df, call, out_col


@pytest.mark.parametrize("op", [
    "add_minhash_signature", "add_simhash", "add_lsh_signature",
    "add_ivf_cluster", "add_pq_codes", "pca_project",
])
def test_arrow_column_output_schema(spark, op):
    """Every column stage passes a column name holding a space through,
    and rejects an output column the frame already holds at call time,
    before any job (it once returned two columns of that name, which
    failed in the executor)."""
    df, call, out_col = _schema_case(spark, op)
    out = call(df)
    kept = [c for c in df.columns if not (op == "add_minhash_signature" and c == "shingles")]
    assert out.columns == kept + [out_col]
    rows = out.collect()
    assert [r["doc id"] for r in rows] == [1, 2]
    assert all(r[out_col] is not None for r in rows)
    with pytest.raises(ValueError, match="already exists"):
        call(df.withColumn(out_col, F.lit(0)))


@pytest.mark.parametrize("op", ["ann_pq_topk", "ann_ivf_pq_topk"])
def test_pq_search_names_with_spaces(spark, op):
    """The PQ search paths take id and query-id column names holding a
    space (their candidate and empty-result schemas were once parsed
    DDL strings, which raised ParseException at call time), and return
    the rows of the plainly named call."""
    from bloomjoin_spark import operators as ops

    df = _vec_frame(spark)
    q = df.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cents = ops.train_ivf_centroids(df, nlist=4, sample=1000, iters=4)
    books = ops.train_pq_codebooks(df, m=2, nbits=3, sample=1000, iters=4)

    def search(corpus, queries, **kw):
        if op == "ann_pq_topk":
            return ops.ann_pq_topk(corpus, queries, books, k=3, **kw)
        return ops.ann_ivf_pq_topk(corpus, queries, cents, books, k=3, nprobe=2, **kw)

    plain = search(df, q)
    spaced = search(
        df.withColumnRenamed("vec_id", "vec id"),
        q.withColumnRenamed("query_id", "query id"),
        id_col="vec id", query_id_col="query id",
    )
    assert spaced.columns == ["query id", "vec id", "sim", "rank"]
    assert sorted(map(tuple, spaced.collect())) == sorted(map(tuple, plain.collect()))
    empty = search(
        df.withColumnRenamed("vec_id", "vec id"),
        q.withColumnRenamed("query_id", "query id").limit(0),
        id_col="vec id", query_id_col="query id",
    )
    assert empty.columns == spaced.columns and empty.count() == 0


# ---------------------------------------------------------------------------
# Pinned outputs of every per-row Arrow column stage and its callers
# ---------------------------------------------------------------------------

def _vec_rows():
    """(vec_id, tag, text, shingles, embedding) rows: 48 dim-8 vectors
    in six loose clusters, with texts and shingle sets, plus rows whose
    vector, text or shingles are NULL or empty."""
    rng = np.random.default_rng(12)
    centers = rng.standard_normal((6, 8))
    rows = []
    for i in range(48):
        v = centers[i % 6] + 0.3 * rng.standard_normal(8)
        text = " ".join(f"w{int(t)}" for t in rng.integers(0, 40, 12))
        sh = [int(s) for s in rng.integers(-(2**62), 2**62, 1 + i % 9)]
        rows.append((i, f"t{i % 5}", text, sh, [float(x) for x in v]))
    rows += [(90, "n", None, None, None), (91, "n", "", [], [])]
    rows += [(92, "n", "w1 w2", [7, 8], None), (93, "e", None, [9], [])]
    return rows


def _vec_frame(spark):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(_vec_rows(), 3),
        "vec_id long, tag string, text string, shingles array<bigint>, "
        "embedding array<float>",
    )


def _arrow_column_ctx(spark, tmp):
    """The frame, queries and trained inputs every op below shares."""
    from bloomjoin_spark import FrequentDirectionsSketch
    from bloomjoin_spark.operators import (
        train_ivf_centroids,
        train_pq_codebooks,
        write_ivf_partitioned,
    )

    df = _vec_frame(spark)
    queries = df.filter(
        (F.col("vec_id") % 7 == 0) | (F.col("vec_id") >= 90)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    cents = train_ivf_centroids(df, nlist=4, sample=1000, iters=4)
    books = train_pq_codebooks(df, m=2, nbits=3, sample=1000, iters=4)
    sk = FrequentDirectionsSketch(ell=8, dim=8)
    sk.update_matrix(np.array([r[4] for r in _vec_rows() if r[4]], dtype=np.float64))
    path = f"{tmp}/ivf"
    write_ivf_partitioned(df, cents, path)
    wrong_dim = spark.createDataFrame(
        [(99, "w", "x", [1], [1.0, 2.0, 3.0])], df.schema
    )
    return {"df": df, "q": queries, "cents": cents, "books": books,
            "sk": sk, "path": path, "pq_df": df.unionByName(wrong_dim)}


def _arrow_column_call(spark, ctx, op):
    """The frame one op returns over the shared input."""
    from bloomjoin_spark import operators as ops

    df, q = ctx["df"], ctx["q"]
    if op == "add_minhash_signature":
        return ops.add_minhash_signature(df, num_perm=16)
    if op == "add_simhash":
        return ops.add_simhash(df)
    if op == "add_lsh_signature":
        return ops.add_lsh_signature(df, nbits=16)
    if op == "add_ivf_cluster":
        return ops.add_ivf_cluster(df, ctx["cents"])
    if op == "ann_ivf_topk":
        return ops.ann_ivf_topk(df, q, k=3, nlist=4, nprobe=2, sample=1000, iters=4)
    if op == "ann_ivf_topk_partitioned":
        return ops.ann_ivf_topk_partitioned(spark, ctx["path"], q, ctx["cents"], k=3, nprobe=2)
    if op == "add_pq_codes":
        return ops.add_pq_codes(ctx["pq_df"], ctx["books"])
    if op == "ann_pq_topk":
        return ops.ann_pq_topk(ctx["pq_df"], q, ctx["books"], k=3, shortlist=6)
    if op == "ann_ivf_pq_topk":
        return ops.ann_ivf_pq_topk(df, q, ctx["cents"], ctx["books"], k=3, nprobe=2, shortlist=6)
    if op == "pca_project":
        return ops.pca_project(df.filter(F.size("embedding") != 0), "embedding", ctx["sk"], k=3)
    if op == "cosine_topk":
        return ops.cosine_topk(df, q, k=3)
    if op == "ann_lsh_topk":
        return ops.ann_lsh_topk(df, q, k=3, nbits=16, bands=4)
    raise KeyError(op)


#: sha256 of each op's schema and sorted rows over ``_vec_frame`` under
#: seven-row Arrow batches, generated three times (all agreeing) before
#: every per-row kernel ran through one Arrow column stage
ARROW_COLUMN_DIGESTS = {
    "add_minhash_signature": "c3d56c0cbb1f64fda71f607d9615fb490258d7f00b8f366fbe9b9ce4550bb3e0",
    "add_simhash": "e2cb00e92109e0e025e56118431e0364f930138099228483407d9dfcb3b28c17",
    "add_lsh_signature": "97b97b1ec553b23af89fa56228bb7f198b7ec6f22a40676f34ca6c2f82cf4aaf",
    "add_ivf_cluster": "b77ab8976733ee3e21648e0ba2452bea878a2f19bb9f52a46c8d01c635693c86",
    "ann_ivf_topk": "97f809e771ff02539ddd59be053cb097c0a4c54779612fc8b402a90d8d11eaf2",
    "ann_ivf_topk_partitioned": "97f809e771ff02539ddd59be053cb097c0a4c54779612fc8b402a90d8d11eaf2",
    "add_pq_codes": "cc4b645586d72d846ea58f2e0568ed0e42ae356c15e1b59b14286df8b974107f",
    "ann_pq_topk": "b6653f5a76a40112d1c268b0f8278b66268e0242ed47867204226797e685a2b7",
    "ann_ivf_pq_topk": "b6653f5a76a40112d1c268b0f8278b66268e0242ed47867204226797e685a2b7",
    "pca_project": "7908c6310eca2c06891ecb469ccc2fddacdea015e7071b51388c0f6c7a8fbe10",
    "cosine_topk": "2ea65c167ddac73a88dee9a0798f18cb589154a691c65dcf3c5d5ff3e26403c4",
    "ann_lsh_topk": "bd2b3bdb5095308106c29d4ec749674c3383f5263fddd5686dd055015af2b99e",
}


def arrow_column_digests(spark, ops=tuple(ARROW_COLUMN_DIGESTS)):
    """``{op: sha256}`` over ``_vec_frame`` (three partitions, so every
    partition spans several seven-row Arrow batches)."""
    import hashlib
    import tempfile

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        with tempfile.TemporaryDirectory() as tmp:
            ctx = _arrow_column_ctx(spark, tmp)
            out = {}
            for op in ops:
                res = _arrow_column_call(spark, ctx, op)
                rows = sorted(repr(tuple(r)) for r in res.collect())
                blob = repr((res.schema.simpleString(), rows))
                out[op] = hashlib.sha256(blob.encode()).hexdigest()
            return out
    finally:
        spark.conf.set(conf, old)


@pytest.mark.parametrize("op", list(ARROW_COLUMN_DIGESTS))
def test_arrow_column_results_unchanged(spark, op):
    """Every per-row vector and signature kernel, and each ANN path
    built on one, returns the same columns and rows."""
    assert arrow_column_digests(spark, [op]) == {op: ARROW_COLUMN_DIGESTS[op]}


def arrow_column_jobs(spark, ops=tuple(ARROW_COLUMN_DIGESTS)):
    """``{op: jobs}`` of one op call plus its ``collect()``, counted by
    session tag; the shared inputs are trained and written before the
    count."""
    import tempfile

    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        ctx = _arrow_column_ctx(spark, tmp)
        for op in ops:
            out[op] = tagged_jobs(spark, lambda: _arrow_column_call(spark, ctx, op).collect())[1]
    return out


#: Spark jobs of one op call plus its ``collect()`` over the shared
#: input, counted four times (all agreeing) before every per-row kernel
#: ran through one Arrow column stage
ARROW_COLUMN_JOBS = {
    "add_minhash_signature": 1,
    "add_simhash": 1,
    "add_lsh_signature": 1,
    "add_ivf_cluster": 1,
    "ann_ivf_topk": 8,
    "ann_ivf_topk_partitioned": 7,
    "add_pq_codes": 1,
    "ann_pq_topk": 7,
    "ann_ivf_pq_topk": 7,
    "pca_project": 1,
    "cosine_topk": 3,
    "ann_lsh_topk": 4,
}


def test_arrow_column_jobs_per_call(spark):
    """No op pays a job for its column stage: each reads the job count
    it read before the stage was shared.  An op whose count differs is
    counted once more and the fewer must match, as adaptive execution
    now and then runs one more stage job."""
    got = arrow_column_jobs(spark)
    again = [op for op in got if got[op] != ARROW_COLUMN_JOBS[op]]
    if again:
        got.update({op: min(n, got[op]) for op, n in arrow_column_jobs(spark, again).items()})
    assert got == ARROW_COLUMN_JOBS
