"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the baseline. The scoring
  expression is pure JVM (``zip_with`` + ``aggregate``), the query set
  is broadcast, and ranking is a window per query id
  (``_rerank_candidates``, the exact tail every ANN path below shares).
- ``ann_lsh_topk``: random-hyperplane LSH — sign bits per vector (one
  matmul per Arrow batch), banded into bucket keys; candidates come
  from bucket equi-joins (shuffles only (band, bucket, id)), then the
  exact cosine re-rank.
- ``ann_ivf_topk`` / ``ann_ivf_topk_partitioned``: IVF — spherical
  k-means cells; a query probes its ``nprobe`` nearest cells
  (``_probe_cells``), candidates are an equi-join on the cell id (a
  partition-pruned read over a ``write_ivf_partitioned`` corpus).
- ``ann_pq_topk`` / ``ann_ivf_pq_topk``: product quantization — the
  scan ADC-scores m-byte codes (``add_pq_codes``), optionally inside
  the probed IVF cells, and fetches true vectors for a shortlist only.

Every per-row kernel (LSH signature, IVF cell, probed cells, PQ code)
runs through one Arrow column stage, ``dedup._arrow_column``: one
``mapInArrow`` per call, the vector list column read as one flat
buffer (``_vectors``), no per-row Python.  A vector op reads a NULL or
empty vector by its own documented rule; a non-empty row whose length
differs from the others (LSH) or from the centroid dim (IVF) raises
``ValueError``.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F, types as T

from .dedup import (
    _arrow_column, _band_structs, _bucket_pairs, _fixed_list,
    _keep_min_reps, _list_lens_and_flat,
)

_PLANE_SEED = 0x7F4A7C159E3779B9


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_sim_col(a, b):
    """Exact cosine similarity between two array<float/double> columns
    (JVM-side; 0.0 when either norm is 0)."""
    dot = _dot(a, b)
    na = F.sqrt(_dot(a, a))
    nb = F.sqrt(_dot(b, b))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _rerank_candidates(
    cand: DataFrame, k: int, id_col: str, vec_col: str, query_id_col: str
) -> DataFrame:
    """Exact-cosine top-k of (__qid, id, vec, __qvec) candidates: (query_id,
    id, sim, rank), ties broken by (sim desc, id asc) — the brute-force
    scorer and the shared tail of every ANN path."""
    scored = cand.select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        F.round(
            cosine_sim_col(
                F.col(vec_col).cast("array<double>"),
                F.col("__qvec").cast("array<double>"),
            ),
            6,
        ).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _query_frame(queries: DataFrame, query_id_col: str, vec_col: str) -> DataFrame:
    return queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force top-k: (query_id, vec_id, sim, rank).
    ``queries`` must have (query_id, embedding); it is broadcast.
    Deterministic tie-break: (sim desc, vec_id asc). Self-matches
    (same id) are not excluded — filter upstream if undesired."""
    q = F.broadcast(_query_frame(queries, query_id_col, vec_col))
    return _rerank_candidates(
        corpus.select(id_col, vec_col).crossJoin(q), k, id_col, vec_col, query_id_col
    )


def _vectors(col, dim: int | None = None):
    """THE vector reader of the per-row kernels: ``(nz, V)``, the mask of
    the non-empty rows of an Arrow list column and their (rows, dim)
    float64 matrix — the flat buffer reshaped, so a float64 column is
    not copied.  Every non-empty row must hold ``dim`` values (``None``:
    the length of the first one), else ``ValueError``."""
    lens, flat = _list_lens_and_flat(col)
    nz = lens > 0
    if dim is None:
        dim = int(lens[nz][0]) if nz.any() else 0
    bad = nz & (lens != dim)
    if bad.any():
        raise ValueError(
            f"vector rows must have length {dim}, found a row of length "
            f"{int(lens[bad][0])}"
        )
    return nz, flat.astype(np.float64, copy=False).reshape(int(nz.sum()), dim)


@functools.lru_cache(maxsize=None)
def _planes(dim: int, nbits: int) -> np.ndarray:
    """Deterministic gaussian hyperplanes via counter-based Box-Muller
    (cached per process; read-only)."""
    from ..hashing import splitmix64

    n = dim * nbits
    c = np.arange(2 * n, dtype=np.uint64)
    u = splitmix64(c ^ np.uint64(_PLANE_SEED)).astype(np.float64) / 2.0**64
    u1 = np.clip(u[:n], 1e-12, 1.0)
    u2 = u[n:]
    g = np.sqrt(-2.0 * np.log(u1)) * np.cos(2 * np.pi * u2)
    g = g.reshape(dim, nbits)
    g.setflags(write=False)
    return g


def add_lsh_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    nbits: int = 64,
    out_col: str = "lsh_sig",
) -> DataFrame:
    """Pack sign(V·P) into one int64 per row — Arrow-native: the vector
    list column is ONE flat float buffer, so the whole batch reshapes
    to (rows, dim) and signs come from a single matmul; no per-row
    numpy object materialization.  Planes are deterministic per
    (dim, nbits).  A NULL or empty vector signs 0; the non-empty
    vectors of a batch must share one length."""
    powers = np.uint64(1) << np.arange(nbits, dtype=np.uint64)

    def sig(batch):
        import pyarrow as pa

        nz, V = _vectors(batch.column(vec_col))
        out = np.zeros(batch.num_rows, dtype=np.uint64)
        if nz.any():
            bits = (V @ _planes(V.shape[1], nbits)) > 0
            out[nz] = (bits.astype(np.uint64) * powers[None, :]).sum(
                axis=1, dtype=np.uint64
            )
        return pa.array(out.view(np.int64))

    return _arrow_column(df, out_col, T.LongType(), sig)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nbits: int = 64,
    bands: int = 8,
) -> DataFrame:
    """Approximate top-k: LSH-bucket candidates (≥1 identical band),
    exact cosine re-rank. Recall grows with ``bands`` (at most
    ``nbits``: a band needs at least one bit)."""
    structs = _band_structs("__sig", bands, nbits)

    def banded(df, idc, vcol):
        sig = add_lsh_signature(df.select(idc, vcol), vcol, nbits, "__sig")
        return sig.select(idc, vcol, F.inline(structs))

    c = banded(corpus, id_col, vec_col)
    q = banded(_query_frame(queries, query_id_col, vec_col), "__qid", "__qvec")
    cand = (
        c.join(F.broadcast(q), on=["band", "bucket"])
        .select("__qid", id_col, vec_col, "__qvec")
        .dropDuplicates(["__qid", id_col])
    )
    return _rerank_candidates(cand, k, id_col, vec_col, query_id_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path next to LSH buckets:
# spherical k-means centroids partition the corpus into nlist cells;
# a query probes its nprobe nearest cells, so candidate generation is
# an equi-join on cluster id (≈ nprobe/nlist of the corpus scanned per
# query) followed by exact cosine re-rank. At cluster scale the corpus
# can be written bucketed/partitioned BY the cell id, making the
# candidate fetch partition-pruned instead of a shuffle.
# ---------------------------------------------------------------------------

def _sample_unit_vectors(
    corpus: DataFrame, vec_col: str, sample: int
) -> tuple[np.ndarray, np.ndarray]:
    """Shared training-sample fetch for IVF and PQ: a seeded sample of
    ≤ ``sample`` vectors (the only driver-side data), L2-normalized,
    plus the deterministic splitmix-shuffled init order."""
    n = corpus.count()
    frac = min(1.0, (sample * 1.25) / max(n, 1))
    pdf = (
        corpus.select(vec_col).sample(fraction=frac, seed=42).limit(sample).toPandas()
    )
    V = np.stack(
        [np.asarray(v, dtype=np.float64) for v in pdf[vec_col] if v is not None and len(v)]
    )
    V = V / np.clip(np.linalg.norm(V, axis=1, keepdims=True), 1e-12, None)
    from ..hashing import splitmix64

    order = np.argsort(splitmix64(np.arange(len(V), dtype=np.uint64)))
    return V, order


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    nlist: int = 64,
    sample: int = 20_000,
    iters: int = 8,
) -> np.ndarray:
    """Deterministic spherical k-means over a seeded sample: returns
    (nlist, dim) unit centroids.  The sample is the only driver-side
    data (≤ ``sample`` rows); training is a few numpy matmuls."""
    V, order = _sample_unit_vectors(corpus, vec_col, sample)
    nlist = min(nlist, len(V))
    # deterministic init: splitmix-shuffled sample order, first nlist rows
    C = V[order[:nlist]].copy()
    for _ in range(iters):
        assign = np.argmax(V @ C.T, axis=1)
        newC = np.zeros_like(C)
        np.add.at(newC, assign, V)
        counts = np.bincount(assign, minlength=nlist)
        empty = counts == 0
        newC[empty] = C[empty]  # keep empty cells where they were
        newC /= np.clip(np.linalg.norm(newC, axis=1, keepdims=True), 1e-12, None)
        C = newC
    return C


def _assign_clusters_fn(centroids: np.ndarray, vec_col: str, nprobe: int | None = None):
    """Arrow kernel: one matmul of the batch's unit vectors against the
    centroids, then the nearest cell (``nprobe`` None: an int cell id)
    or the ``nprobe`` nearest cells, nearest first (array<int>).  A
    NULL or empty vector takes cell 0; a non-empty vector whose length
    differs from the centroid dim raises ``ValueError``."""
    top = nprobe or 1

    def cells(batch):
        import pyarrow as pa

        nz, V = _vectors(batch.column(vec_col), centroids.shape[1])
        out = np.zeros((batch.num_rows, top), dtype=np.int32)
        if nz.any():
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            sims = (V / np.clip(nrm, 1e-12, None)) @ centroids.T
            if top == 1:
                out[nz, 0] = np.argmax(sims, axis=1)
            else:
                part = np.argpartition(-sims, top - 1, axis=1)[:, :top]
                order = np.argsort(-np.take_along_axis(sims, part, axis=1), axis=1)
                out[nz] = np.take_along_axis(part, order, axis=1)
        return pa.array(out.ravel()) if nprobe is None else _fixed_list(out)

    return cells


def add_ivf_cluster(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "ivf_cluster",
) -> DataFrame:
    """Assign each vector to its nearest centroid (int cluster id; cell
    0 for a NULL or empty vector, ``ValueError`` for a vector whose
    length is not the centroid dim)."""
    return _arrow_column(
        df, out_col, T.IntegerType(), _assign_clusters_fn(centroids, vec_col)
    )


def _nprobe(nprobe: int, nlist: int) -> int:
    """THE nprobe rule of every IVF query path: at least 1 (else
    ``ValueError``), at most the cell count."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    return min(nprobe, nlist)


def _probe_cells(
    queries: DataFrame, centroids: np.ndarray, nprobe: int,
    query_id_col: str, vec_col: str, cell_col: str,
) -> DataFrame:
    """(__qid, __qvec, cell_col): each query once per cell among its
    ``nprobe`` nearest — one Arrow column stage, then an explode."""
    top = _nprobe(nprobe, centroids.shape[0])
    probes = _arrow_column(
        _query_frame(queries, query_id_col, vec_col), "__cls",
        T.ArrayType(T.IntegerType()), _assign_clusters_fn(centroids, "__qvec", top),
    )
    return probes.select(
        "__qid", "__qvec", F.explode("__cls").alias(cell_col)
    ).dropDuplicates(["__qid", cell_col])


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 64,
    nprobe: int = 8,
    sample: int = 20_000,
    iters: int = 8,
) -> DataFrame:
    """IVF approximate top-k: train centroids from a sample, assign the
    corpus once, probe each query's nprobe nearest cells (equi-join on
    cluster id, queries broadcast), exact cosine re-rank.  Recall grows
    with nprobe/nlist; nprobe == nlist degrades gracefully to exact."""
    _nprobe(nprobe, nlist)  # fail before training
    cent = train_ivf_centroids(corpus, vec_col, nlist, sample, iters)
    c = add_ivf_cluster(corpus.select(id_col, vec_col), cent, vec_col, "__cl")
    qx = _probe_cells(queries, cent, nprobe, query_id_col, vec_col, "__cl")
    cand = (
        c.join(F.broadcast(qx), on="__cl")
        .select("__qid", id_col, vec_col, "__qvec")
        .dropDuplicates(["__qid", id_col])
    )
    return _rerank_candidates(cand, k, id_col, vec_col, query_id_col)


def write_ivf_partitioned(
    corpus: DataFrame,
    centroids: np.ndarray,
    path: str,
    vec_col: str = "embedding",
    cluster_col: str = "ivf_cell",
) -> None:
    """Materialize the corpus PARTITIONED BY its IVF cell id.  At
    cluster scale this turns the candidate fetch from a full-corpus
    scan + shuffle into a partition-pruned read: a query batch probing
    nprobe of nlist cells reads only those directories (the plan's
    ``PartitionFilters`` carries the cell list — asserted in
    tests/test_plans.py)."""
    assigned = add_ivf_cluster(corpus, centroids, vec_col, cluster_col)
    assigned.write.partitionBy(cluster_col).mode("overwrite").parquet(path)


def ann_ivf_topk_partitioned(
    spark,
    path: str,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int = 8,
    cluster_col: str = "ivf_cell",
) -> DataFrame:
    """IVF top-k over a ``write_ivf_partitioned`` corpus.  The probed
    cell ids are collected to the driver (≤ nlist ints — metadata, not
    data) and pushed as a literal ``isin`` partition filter, so the
    parquet scan is pruned to nprobe/nlist of the corpus before the
    (broadcast) candidate join."""
    # reused by the cell-list collect AND the candidate join — one
    # materialization so the assignment UDF runs once
    qx = _probe_cells(
        queries, centroids, nprobe, query_id_col, vec_col, cluster_col
    ).localCheckpoint(eager=False)
    corpus = spark.read.parquet(path)
    cells = [int(r[cluster_col]) for r in qx.select(cluster_col).distinct().collect()]
    pruned = corpus.filter(F.col(cluster_col).isin(cells))
    cand = (
        pruned.join(F.broadcast(qx), on=cluster_col)
        .select("__qid", id_col, vec_col, "__qvec")
        .dropDuplicates(["__qid", id_col])
    )
    return _rerank_candidates(cand, k, id_col, vec_col, query_id_col)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nbits: int = 64,
    bands: int = 8,
    max_bucket_size: int | None = 2000,
    dropped_report: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH candidates → exact cosine ≥
    threshold. (id_a < id_b, sim).

    Candidates come from ``dedup._bucket_pairs``, the self-join every
    near-dup operator shares: buckets over ``max_bucket_size`` are
    dropped before the O(bucket²) join (a degenerate bucket — e.g.
    zero/constant vectors — is quadratic at scale), with a warning and
    the optional ``dropped_report`` dict filled.  ``bands`` is at most
    ``nbits``."""
    structs = _band_structs("__sig", bands, nbits)
    sig = add_lsh_signature(df.select(id_col, vec_col), vec_col, nbits, "__sig")
    cand = _bucket_pairs(
        sig.select(id_col, vec_col, F.inline(structs)), id_col,
        ["band", "bucket"], "embedding_near_dup_pairs",
        max_bucket_size, dropped_report, carry=[vec_col],
    )
    return cand.select(
        "id_a",
        "id_b",
        F.round(
            cosine_sim_col(
                F.col(f"{vec_col}_a").cast("array<double>"),
                F.col(f"{vec_col}_b").cast("array<double>"),
            ),
            6,
        ).alias("sim"),
    ).filter(F.col("sim") >= threshold)


def embedding_dedup(
    df,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kw,
):
    """Full semantic near-dup dedup: `embedding_near_dup_pairs` →
    min-label clusters → keep the min-id representative per cluster —
    the same keep rule as the text dedup tiers (``exact_dedup``,
    ``minhash_dedup``, ``ngram_jaccard_dedup``), so mixed text+embedding
    dedup stacks compose deterministically."""
    pairs = embedding_near_dup_pairs(df, id_col, vec_col, **kw)
    return _keep_min_reps(df, pairs, id_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the embedding COMPRESSION path next to
# LSH and IVF. Public method: Jégou, Douze, Schmid, "Product
# Quantization for Nearest Neighbor Search" (TPAMI 2011). dim-d unit
# vectors split into m subspaces, each quantized against its own
# 2^nbits-codeword book, so a vector stores as m bytes instead of 4·d
# (dim 64 float32 → 8 bytes at m=8: 32×). Search is asymmetric
# distance computation (ADC): per query, one (m, 2^nbits) table of
# subspace dot products, then scoring a vector = m table lookups —
# the scan touches ONLY the m-byte codes, never the vectors; true
# vectors are fetched for the shortlist alone. At 100 TB this is the
# difference between scanning the corpus' raw embeddings per query
# batch and scanning a table 32× smaller, with the exact re-rank cost
# proportional to shortlist·|queries|, not the corpus.
# ---------------------------------------------------------------------------

def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    sample: int = 20_000,
    iters: int = 8,
) -> np.ndarray:
    """Deterministic per-subspace k-means over a seeded sample:
    returns ``(m, 2**nbits, dsub)`` float64 codebooks (fewer codewords
    when the sample is smaller — remaining slots repeat the last
    centroid so the code domain stays dense).

    Vectors are L2-normalized BEFORE splitting, so the ADC inner
    product approximates cosine similarity directly.  The sample is
    the only driver-side data (≤ ``sample`` rows), the same bound as
    ``train_ivf_centroids``; training is per-subspace numpy matmuls.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if not 1 <= nbits <= 8:
        raise ValueError(f"nbits must be in [1, 8] (codes are bytes), got {nbits}")
    V, order = _sample_unit_vectors(corpus, vec_col, sample)
    dim = V.shape[1]
    if dim % m:
        raise ValueError(f"vector dim {dim} is not divisible by m={m}")
    dsub = dim // m
    k_full = 1 << nbits
    k = min(k_full, len(V))
    books = np.empty((m, k_full, dsub), dtype=np.float64)
    for j in range(m):
        S = V[:, j * dsub : (j + 1) * dsub]
        C = S[order[:k]].copy()
        for _ in range(iters):
            # squared euclidean via the expansion; argmin over codewords
            d2 = (
                (S * S).sum(axis=1, keepdims=True)
                - 2.0 * (S @ C.T)
                + (C * C).sum(axis=1)
            )
            assign = np.argmin(d2, axis=1)
            newC = np.zeros_like(C)
            np.add.at(newC, assign, S)
            counts = np.bincount(assign, minlength=k)
            nz = counts > 0
            newC[nz] /= counts[nz, None]
            newC[~nz] = C[~nz]  # keep empty cells where they were
            C = newC
        books[j, :k] = C
        books[j, k:] = C[k - 1]  # dense code domain when sample < 2^nbits
    return books


def _encode_pq_fn(codebooks: np.ndarray, vec_col: str):
    """Arrow kernel: one argmin of the batch's unit vectors against each
    subspace book, emitting m-byte binary codes (NULL for a null,
    empty or wrong-dim vector).  Codeword norms are computed once, on
    the driver."""
    m, _, dsub = codebooks.shape
    dim = m * dsub
    bnorm = (codebooks * codebooks).sum(axis=2)

    def encode(batch):
        import pyarrow as pa

        lens, flat = _list_lens_and_flat(batch.column(vec_col))
        n = batch.num_rows
        ok = lens == dim
        codes = np.zeros((n, m), dtype=np.uint8)
        if ok.any():
            flat = flat.astype(np.float64, copy=False)
            if (ok | (lens == 0)).all():  # the flat buffer IS the matrix
                V = flat.reshape(-1, dim)
            else:  # gather the valid rows past the wrong-dim ones
                starts = np.zeros(n, dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                V = flat[starts[ok, None] + np.arange(dim, dtype=np.int64)]
            V = V / np.clip(np.linalg.norm(V, axis=1, keepdims=True), 1e-12, None)
            for j in range(m):
                S = V[:, j * dsub : (j + 1) * dsub]
                d2 = -2.0 * (S @ codebooks[j].T) + bnorm[j]
                codes[ok, j] = np.argmin(d2, axis=1).astype(np.uint8)
        offsets = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32)).buffers()[1]
        mask = None if ok.all() else pa.array(ok).buffers()[1]
        return pa.Array.from_buffers(
            pa.binary(), n, [mask, offsets, pa.py_buffer(codes.tobytes())],
            null_count=int((~ok).sum()),
        )

    return encode


def add_pq_codes(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """``df`` plus an ``out_col`` binary column of m-byte PQ codes
    (NULL where the vector is null, empty, or the wrong dimension)."""
    return _arrow_column(
        df, out_col, T.BinaryType(), _encode_pq_fn(codebooks, vec_col)
    )


def _adc_score_fn(
    tables: np.ndarray,
    qid_values,
    qid_arrow_type,
    id_col: str,
    code_col: str,
    query_id_col: str,
    shortlist: int,
    cell_col: str | None = None,
    cells_allowed: np.ndarray | None = None,
):
    """mapInArrow over (id, code) batches: decode the m-byte codes
    via buffer reshape (no per-row Python), gather-sum the per-query
    ADC tables, and emit each query's per-batch top-``shortlist``
    candidate ids with their approximate scores.  With ``cell_col`` +
    ``cells_allowed`` (a (Q, nlist) boolean membership table — the
    IVF-PQ path) each query scores ONLY the rows in its probed cells,
    masked by ONE fancy-index per batch (not a per-query isin loop)."""
    Q, m, _ = tables.shape

    def fn(it):
        import pyarrow as pa

        T = tables
        # explicit type: pa.array's inference (int64 for Python ints)
        # would mismatch the declared schema for e.g. an int query id
        qid_arr = pa.array(qid_values, type=qid_arrow_type)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            col = batch.column(batch.schema.get_field_index(code_col))
            # equal-length m-byte codes: reshape the data buffer
            # (honor the array offset — a sliced batch shares buffers)
            offs = np.frombuffer(col.buffers()[1], dtype=np.int32)[
                col.offset : col.offset + n + 1
            ]
            lens = offs[1:] - offs[:-1]
            valid = lens == m
            if col.null_count:
                valid &= ~np.asarray(col.is_null())
            if not valid.any():
                continue
            data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
            rows = np.nonzero(valid)[0]
            codes = data[offs[rows, None] + np.arange(m, dtype=np.int64)]
            nv = len(rows)
            scores = np.zeros((Q, nv), dtype=np.float64)
            for j in range(m):
                scores += T[:, j, codes[:, j]]
            if cell_col is not None:
                cells = (
                    batch.column(batch.schema.get_field_index(cell_col))
                    .to_numpy(zero_copy_only=False)[rows]
                    .astype(np.int64, copy=False)
                )
                # cells are bounded by the probed-union scan filter,
                # so this single (Q, nv) fancy-index replaces Q isin
                # scans — per-query cost stays per-batch O(nv)
                scores[~cells_allowed[:, cells]] = -np.inf
            s_eff = min(shortlist, nv)
            if s_eff < nv:
                top = np.argpartition(-scores, s_eff - 1, axis=1)[:, :s_eff]
            else:
                top = np.broadcast_to(np.arange(nv), (Q, nv))
            # flatten (query, candidate) pairs; ids via Arrow take (any dtype)
            sel = np.take_along_axis(scores, top, axis=1).ravel()
            row_idx = rows[top.ravel()]
            q_idx = np.repeat(np.arange(Q), top.shape[1])
            if cell_col is not None:
                keep = np.isfinite(sel)  # out-of-cell slots never emit
                if not keep.any():
                    continue
                sel, row_idx, q_idx = sel[keep], row_idx[keep], q_idx[keep]
            ids = batch.column(batch.schema.get_field_index(id_col)).take(
                pa.array(row_idx)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    qid_arr.take(pa.array(q_idx)),
                    ids,
                    pa.array(sel),
                ],
                names=[query_id_col, id_col, "__approx"],
            )

    return fn


def _adc_search(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    codes: DataFrame,
    code_col: str,
    shortlist: int,
    cell_col: str | None = None,
    centroids: np.ndarray | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """Shared PQ / IVF-PQ search tail: collect the (small) query set,
    build the per-query ADC tables, score the codes scan (cell-masked
    when ``cell_col``/``centroids``/``nprobe`` are given), keep the
    global per-query shortlist, fetch only those vectors, and
    exact-cosine re-rank."""
    m, _, dsub = codebooks.shape
    qrows = [
        r
        for r in queries.select(query_id_col, vec_col).collect()
        if r[1] is not None and len(r[1])
    ]
    # schemas from the frames' own field types: a name is never parsed
    keys = [T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, codes.schema[id_col].dataType)]
    if not qrows:
        return queries.sparkSession.createDataFrame([], T.StructType(keys + [
            T.StructField("sim", T.DoubleType()), T.StructField("rank", T.IntegerType())
        ]))
    qids = [r[0] for r in qrows]
    Qv = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    if Qv.shape[1] != m * dsub:
        raise ValueError(
            f"query dim {Qv.shape[1]} != codebook dim {m * dsub}"
        )
    Qv = Qv / np.clip(np.linalg.norm(Qv, axis=1, keepdims=True), 1e-12, None)
    # ADC tables: tables[q, j, c] = q's j-th subvector · codeword c
    tables = np.einsum("qjd,jcd->qjc", Qv.reshape(len(qids), m, dsub), codebooks)

    scan = codes
    cells_allowed = None
    if cell_col is not None:
        # probed cells per query: driver-side math over the (small)
        # centroid matrix — STABLE argsort so exact-tie behavior
        # matches add_ivf_cluster's argmax (first index wins)
        sims = Qv @ centroids.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        nlist = centroids.shape[0]
        cells_allowed = np.zeros((len(qids), nlist), dtype=bool)
        cells_allowed[np.arange(len(qids))[:, None], order] = True
        # pre-filter the scan to the UNION of probed cells — a plan
        # literal, partition-prunable on a cell-partitioned layout
        probed_union = sorted({int(c) for c in order.ravel()})
        scan = codes.filter(F.col(cell_col).isin(probed_union))

    from pyspark.sql.pandas.types import to_arrow_type

    qid_arrow_type = to_arrow_type(queries.schema[query_id_col].dataType)
    cand_schema = T.StructType(keys + [T.StructField("__approx", T.DoubleType())])
    per_batch = scan.mapInArrow(
        _adc_score_fn(
            tables, qids, qid_arrow_type, id_col, code_col, query_id_col,
            shortlist, cell_col=cell_col, cells_allowed=cells_allowed,
        ),
        cand_schema,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("__approx"), F.asc(id_col)
    )
    cand_ids = (
        # dedup BEFORE the shortlist window: duplicate ids in a user
        # codes table carry identical scores and would otherwise eat
        # shortlist slots (same candidate at ranks 1 and 2)
        per_batch.dropDuplicates([query_id_col, id_col])
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= shortlist)
        .select(query_id_col, id_col)
    )
    # shortlist·|queries| rows — AQE broadcasts this side of the fetch
    cand = cand_ids.join(corpus.select(id_col, vec_col), id_col).join(
        F.broadcast(_query_frame(queries, query_id_col, vec_col)),
        F.col(query_id_col) == F.col("__qid"),
    )
    return _rerank_candidates(
        cand.select("__qid", id_col, vec_col, "__qvec"),
        k, id_col, vec_col, query_id_col,
    )


def ann_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codes: DataFrame | None = None,
    code_col: str = "pq_code",
    shortlist: int | None = None,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance: ADC-score the
    m-byte codes (tables built per query on the driver — queries are
    SMALL by the same contract as ``cosine_topk``'s broadcast), keep
    each query's top ``shortlist`` (default ``max(4k, 50)``), fetch
    ONLY those vectors, exact-cosine re-rank.

    Pass ``codes`` (a materialized ``add_pq_codes`` output holding
    ``id_col`` + ``code_col``) to make the scoring scan read nothing
    but the id and the m-byte code — the 100 TB shape; omitted, codes
    are computed on the fly from ``corpus`` in the same pass.  With
    ``shortlist >= |corpus|`` the result is EXACTLY ``cosine_topk``
    over the validly-coded rows (the re-rank sees every vector whose
    code is non-NULL; null/empty/wrong-dim corpus vectors never become
    candidates, where ``cosine_topk`` scores them 0.0).  Queries with
    a NULL/empty vector produce no output rows; duplicate ``id_col``
    values in ``codes`` are candidate-deduped like the other ANN paths
    (the fetch join still fans out if ``corpus`` itself repeats an id).
    """
    if shortlist is None:
        shortlist = max(4 * k, 50)
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    if codes is None:
        codes = add_pq_codes(
            corpus.select(id_col, vec_col), codebooks, vec_col, code_col
        ).select(id_col, code_col)
    return _adc_search(
        corpus, queries, codebooks, k, id_col, vec_col, query_id_col,
        codes, code_col, shortlist,
    )


def ann_ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codes: DataFrame | None = None,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    shortlist: int | None = None,
) -> DataFrame:
    """IVF-PQ — the standard big-corpus ANN configuration (FAISS-style,
    both components public methods): each query probes its ``nprobe``
    nearest IVF cells and ADC-scores ONLY the m-byte codes inside
    them, so the scoring scan touches ``≈ nprobe/nlist`` of a table
    that is itself ~32× smaller than the embeddings; true vectors are
    fetched for the shortlist alone and exact-cosine re-ranked.

    Pass ``codes`` (a materialized frame holding ``id_col`` +
    ``cell_col`` + ``code_col``, e.g. ``add_pq_codes(add_ivf_cluster(
    ...))`` written ``partitionBy(cell_col)``) for the 100 TB shape:
    the probed-cell ``isin`` filter is a plan literal, so a
    cell-partitioned layout prunes unprobed directories exactly like
    ``ann_ivf_topk_partitioned``.  With ``nprobe >= nlist`` AND
    ``shortlist >= |corpus|`` the result is EXACTLY ``cosine_topk``
    over the validly-coded rows (same contract as ``ann_pq_topk``).
    """
    if shortlist is None:
        shortlist = max(4 * k, 50)
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    nprobe = _nprobe(nprobe, centroids.shape[0])
    if codes is None:
        codes = add_pq_codes(
            add_ivf_cluster(corpus.select(id_col, vec_col), centroids,
                            vec_col, cell_col),
            codebooks, vec_col, code_col,
        ).select(id_col, cell_col, code_col)
    return _adc_search(
        corpus, queries, codebooks, k, id_col, vec_col, query_id_col,
        codes, code_col, shortlist,
        cell_col=cell_col, centroids=centroids, nprobe=nprobe,
    )
