"""FrequentDirections matrix sketch: exact mode, published guarantees
(PSD ordering + certified spectral bound) under arbitrary merge order,
harness integration (vectors lane), grouped spectral mass."""

import numpy as np
import pytest

from bloomjoin_spark.sketches.base import Sketch
from bloomjoin_spark.sketches.fd import FrequentDirectionsSketch


def _spectral(m: np.ndarray) -> float:
    return float(np.abs(np.linalg.eigvalsh(m)).max())


def _lowrank(n=4000, d=16, rank=4, noise=0.05, seed=0):
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, rank)) @ rng.normal(size=(rank, d)) + (
        noise * rng.normal(size=(n, d))
    )


# ---------------------------------------------------------------------------
# sketch-level
# ---------------------------------------------------------------------------

def test_fd_exact_under_capacity():
    """Fewer than 2ell rows: never shrinks, gram is bit-exact."""
    A = _lowrank(100, 16)
    fd = FrequentDirectionsSketch(ell=64, dim=16)
    fd.update_matrix(A)
    assert fd.is_exact and fd.shrink_mass == 0.0
    assert np.allclose(fd.gram(), A.T @ A, rtol=1e-12, atol=1e-9)
    assert fd.n_rows == 100


def test_fd_psd_and_bound_any_merge_order():
    """The KDD'13/SJC'16 guarantees survive partition splits merged in
    shuffled order: AtA - BtB is PSD, spectral norm <= shrink_mass,
    shrink_mass <= ||A||F^2 / ell, Frobenius mass tracked exactly."""
    import random

    A = _lowrank()
    parts = np.array_split(A, 7)
    sks = []
    for p in parts:
        s = FrequentDirectionsSketch(ell=8, dim=16)
        s.update_matrix(p)
        sks.append(s)
    random.seed(3)
    random.shuffle(sks)
    acc = sks[0]
    for s in sks[1:]:
        acc = acc.merge(s)
    diff = A.T @ A - acc.gram()
    ev = np.linalg.eigvalsh(diff)
    assert ev.min() >= -1e-6
    assert _spectral(diff) <= acc.spectral_error_bound() + 1e-9
    assert acc.spectral_error_bound() <= (A * A).sum() / 8 + 1e-9
    assert abs(acc.fro_sq - (A * A).sum()) <= 1e-9 * (A * A).sum()
    assert acc.n_rows == A.shape[0]


def test_fd_recovers_signal_subspace():
    A = _lowrank(5000, 16, rank=4)
    fd = FrequentDirectionsSketch(ell=8, dim=16)
    fd.update_matrix(A)
    _, vt = fd.directions(4)
    _, _, vt_true = np.linalg.svd(A, full_matrices=False)
    overlap = np.linalg.norm(vt @ vt_true[:4].T, ord="fro") ** 2 / 4
    assert overlap > 0.98


def test_fd_serde_roundtrip():
    A = _lowrank(300, 8)
    fd = FrequentDirectionsSketch(ell=6, dim=8)
    fd.update_matrix(A)
    back = Sketch.from_bytes(fd.to_bytes())
    assert isinstance(back, FrequentDirectionsSketch)
    assert np.allclose(back.gram(), fd.gram())
    assert back.shrink_mass == fd.shrink_mass
    assert back.n_rows == fd.n_rows and back.fro_sq == fd.fro_sq


def test_fd_exact_recompression_when_dim_below_ell():
    """dim < ell: every shrink cycle re-factorizes exactly (rank <= dim
    rows always fit), so the sketch stays exact at ANY row count."""
    A = _lowrank(1000, 4, rank=4, noise=1.0)
    fd = FrequentDirectionsSketch(ell=8, dim=4)
    fd.update_matrix(A)
    assert fd.is_exact
    assert np.allclose(fd.gram(), A.T @ A, rtol=1e-9, atol=1e-6)


def test_fd_validation():
    fd = FrequentDirectionsSketch(ell=4, dim=3)
    with pytest.raises(ValueError, match="shape"):
        fd.update_matrix(np.zeros((2, 5)))
    with pytest.raises(ValueError, match="finite"):
        fd.update_matrix(np.array([[1.0, np.nan, 0.0]]))
    with pytest.raises(ValueError, match="ell"):
        FrequentDirectionsSketch(ell=1, dim=3)
    a = FrequentDirectionsSketch(ell=4, dim=3)
    b = FrequentDirectionsSketch(ell=4, dim=5)
    with pytest.raises(ValueError, match="merge"):
        a.merge(b)


# ---------------------------------------------------------------------------
# Spark harness (vectors lane)
# ---------------------------------------------------------------------------

def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_fd_sketch_spark_exact_mode(spark, sf_dir):
    """Distributed build == exact Gram when ell covers the row count,
    independent of partitioning."""
    from bloomjoin_spark import fd_sketch

    emb = _emb(spark, sf_dir).repartition(8)
    A = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in emb.select("embedding").collect()]
    )
    res = fd_sketch(emb, "embedding", ell=max(256, A.shape[0]))
    sk = res.sketch
    assert sk.n_rows == A.shape[0] == res.n_rows
    assert sk.is_exact
    assert np.allclose(sk.gram(), A.T @ A, rtol=1e-9, atol=1e-9)


def test_fd_sketch_spark_bound_under_pressure(spark, sf_dir):
    from bloomjoin_spark import fd_sketch

    emb = _emb(spark, sf_dir).repartition(8)
    A = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in emb.select("embedding").collect()]
    )
    sk = fd_sketch(emb, "embedding", ell=8).sketch
    diff = A.T @ A - sk.gram()
    ev = np.linalg.eigvalsh(diff)
    assert ev.min() >= -1e-8
    assert _spectral(diff) <= sk.spectral_error_bound() + 1e-8
    assert not sk.is_exact


def test_fd_null_and_ragged_vectors(spark):
    """NULL embedding rows are dropped; a ragged row raises with a
    clear message instead of silently mis-reshaping."""
    from bloomjoin_spark import fd_sketch

    ok = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0])],
        "id long, embedding array<double>",
    )
    sk = fd_sketch(ok, "embedding", ell=4).sketch
    assert sk.n_rows == 2
    exact = np.array([[1.0, 2.0], [3.0, 4.0]])
    assert np.allclose(sk.gram(), exact.T @ exact)

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="length"):
        fd_sketch(ragged, "embedding", ell=4, dim=2)


def test_grouped_spectral_mass_exact(spark, sf_dir):
    """Per-label retained mass == exact sum of squared norms when ell
    covers each group's rows."""
    import pyspark.sql.functions as F

    from bloomjoin_spark import grouped_spectral_mass

    emb = _emb(spark, sf_dir).repartition(5)
    got = {
        r["label"]: r["estimate"]
        for r in grouped_spectral_mass(
            emb, "label", "embedding", ell=512
        ).collect()
    }
    exact = emb.select(
        "label",
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("m"),
    ).groupBy("label").agg(F.sum("m").alias("mass")).collect()
    assert set(got) == {r["label"] for r in exact}
    for r in exact:
        assert abs(got[r["label"]] - r["mass"]) <= 1e-9 * max(r["mass"], 1)


def test_fd_checkpoint_resume(spark, sf_dir, tmp_path):
    """FD partials ride the standard lineage checkpoint: a resumed
    build over the same input returns the identical sketch."""
    from bloomjoin_spark import fd_sketch

    emb = _emb(spark, sf_dir).repartition(4)
    ck = str(tmp_path / "fd_ckpt")
    first = fd_sketch(emb, "embedding", ell=64, checkpoint_dir=ck).sketch
    resumed = fd_sketch(emb, "embedding", ell=64, checkpoint_dir=ck).sketch
    assert resumed.n_rows == first.n_rows
    assert resumed.fro_sq == first.fro_sq
    assert np.allclose(resumed.gram(), first.gram())


def test_pca_project_matches_numpy(spark, sf_dir):
    """Distributed projection == numpy A @ Vk.T with the SAME sketch's
    directions (no sign ambiguity: identical V on both sides); schema
    passthrough keeps every input column."""
    from bloomjoin_spark import fd_sketch, pca_project

    emb = _emb(spark, sf_dir).repartition(6)
    res = fd_sketch(emb, "embedding", ell=512)
    k = 8
    out = pca_project(emb, "embedding", res, k=k)
    assert out.columns == emb.columns + ["pca"]
    rows = out.select("vec_id", "embedding", "pca").collect()
    _, vt = res.sketch.directions(k)
    for r in rows:
        a = np.asarray(r["embedding"], dtype=np.float64)
        exp = a @ vt.T
        assert np.allclose(np.asarray(r["pca"]), exp, rtol=1e-9, atol=1e-12)
        assert len(r["pca"]) == k


def test_pca_project_nulls_and_validation(spark):
    from bloomjoin_spark import FrequentDirectionsSketch, pca_project

    sk = FrequentDirectionsSketch(ell=4, dim=2)
    sk.update_matrix(np.array([[1.0, 0.0], [0.0, 2.0], [1.0, 1.0]]))
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [0.5, 0.5])],
        "id long, embedding array<double>",
    )
    rows = {r["id"]: r["pca"] for r in
            pca_project(df, "embedding", sk, k=2).collect()}
    assert rows[2] is None
    assert rows[1] is not None and len(rows[1]) == 2
    # asking for more directions than the sketch holds
    with pytest.raises(ValueError, match="directions"):
        pca_project(df, "embedding", sk, k=3)
    # existing output column name
    with pytest.raises(ValueError, match="already exists"):
        pca_project(df.withColumn("pca", df.id), "embedding", sk, k=2)
    # ragged non-null row
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0])], "id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="length"):
        pca_project(ragged, "embedding", sk, k=2).collect()


def test_pca_project_composes_with_ann(spark, sf_dir):
    """The dim-reduction composition the operator exists for: project
    corpus + queries onto the FD top-k subspace and run exact cosine
    top-k in the REDUCED space.  The sf embeddings are near-ISOTROPIC
    (by construction — no planted low-rank signal), so recall tracks
    the captured mass fraction, which the sketch alone predicts from
    its top-k directions: k=48/64 keeps ~86% of the mass (measured 0.86)
    and recall@10 ≥ 0.5 (measured 0.72); real embedding spectra are
    far more skewed, which is the regime the operator targets."""
    import pyspark.sql.functions as F

    from bloomjoin_spark import fd_sketch, pca_project
    from bloomjoin_spark.operators import cosine_topk

    emb = _emb(spark, sf_dir)
    res = fd_sketch(emb, "embedding", ell=512)
    k = 48
    sv2, _ = res.sketch.directions(k)
    mass_frac = sv2.sum() / res.sketch.fro_sq
    assert mass_frac >= 0.7  # the sketch's own prediction for k=48/64
    corpus_p = pca_project(emb, "embedding", res, k=k).select(
        "vec_id", F.col("pca").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    queries_p = pca_project(queries, "embedding", res, k=k).select(
        "query_id", F.col("pca").alias("embedding")
    )
    full = cosine_topk(emb, queries, k=10)
    red = cosine_topk(corpus_p, queries_p, k=10)
    truth: dict = {}
    for r in full.collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = tot = 0
    for r in red.collect():
        if r["vec_id"] in truth.get(r["query_id"], set()):
            hits += 1
        tot += 1
    assert tot > 0
    assert hits / tot >= 0.5, f"recall@10 after {k}-dim PCA = {hits/tot:.2f}"
