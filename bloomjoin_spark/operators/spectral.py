"""One-pass distributed spectral analysis of embedding columns via the
Frequent Directions matrix sketch (``sketches/fd.py``).

At 10^12-row scale the exact Gram matrix AᵀA is a d×d reduce of n·d²
flops — computable, but every variant (PCA before IVF training,
per-source embedding-drift monitoring, spectral mass profiling) re-pays
the full pass.  The FD sketch is the mergeable-summary form: each
partition compresses its rows into an ℓ×d matrix, the KB-scale blobs
ride the SAME two-phase harness as every other sketch here (tree merge,
checkpoint resume, grouped variant, sketch store), and the result
certifies its own error: 0 ⪯ AᵀA − BᵀB ⪯ δ·I with δ tracked exactly
(``spectral_error_bound()``), δ ≤ ‖A‖F²/(ℓ−k) by the GLPW bound.

Plan shape (docs/PLANS.md §30): one ``mapInArrow`` scan — the embedding
list column flattens zero-copy to an (n, d) float64 matrix per batch,
no numpy object per row — then the standard blob tree merge.  The only
driver-side state is ℓ×d floats.

No counterpart in the reference (scope = Bloom prefilter); public
algorithm: Liberty KDD'13, Ghashami-Liberty-Phillips-Woodruff SJC'16.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F, types as T

from ..aggregate import BuildResult, build_sketch, grouped_sketch_estimates
from ..sketches.fd import FrequentDirectionsSketch
from .dedup import _arrow_column, _fixed_list
from .similarity import _vectors

__all__ = [
    "fd_sketch",
    "grouped_spectral_mass",
    "pca_project",
]


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Infer the embedding dimension from one row (tiny limit-1 job;
    pass ``dim`` explicitly to skip it)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).filter("d > 0").first()
    if row is None:
        raise ValueError(
            f"cannot infer dim: no non-empty vectors in {vec_col!r}"
        )
    return int(row["d"])


def fd_sketch(
    df: DataFrame,
    vec_col: str,
    ell: int = 128,
    dim: int | None = None,
    fanin: int = 64,
    checkpoint_dir: str | None = None,
) -> BuildResult:
    """Build one FrequentDirections sketch over an ``array<float>``
    column, fully distributed (same harness as ``build_sketch``:
    per-partition partials, tree merge, optional checkpointed resume).

    Exactness mode: while the total row count stays under 2ℓ the sketch
    never shrinks and ``gram()`` equals AᵀA exactly — at any scale the
    result carries its own certified spectral error bound."""
    d = dim if dim is not None else _vec_dim(df, vec_col)
    return build_sketch(
        df,
        lambda: FrequentDirectionsSketch(ell, d),
        cols=[vec_col],
        fanin=fanin,
        checkpoint_dir=checkpoint_dir,
    )


def grouped_spectral_mass(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    ell: int = 128,
    dim: int | None = None,
) -> DataFrame:
    """Per-group RETAINED spectral mass (trace of BᵀB) in one pass —
    the embedding-drift monitoring primitive: a source whose spectral
    mass distribution shifts between snapshots changed its embedding
    geometry.  Same contract as ``grouped_sketch_estimates``: one scan,
    blob-only shuffle, no per-group state on the driver.  With ℓ above
    the per-group row count the mass is EXACT (= Σ‖v‖² per group)."""
    d = dim if dim is not None else _vec_dim(df, vec_col)
    return grouped_sketch_estimates(
        df,
        lambda: FrequentDirectionsSketch(ell, d),
        group_col,
        cols=[vec_col],
        extract=lambda s: float(np.trace(s.gram())),
    )


def pca_project(
    df: DataFrame,
    vec_col: str,
    sketch: FrequentDirectionsSketch | BuildResult,
    k: int,
    out_col: str = "pca",
) -> DataFrame:
    """Project an ``array<float>`` column onto the top-``k`` principal
    directions of a built FD sketch — the dimensionality-reduction step
    before IVF/PQ training, as ONE Arrow column stage
    (``dedup._arrow_column``): the vector column flattens to an (n, d)
    matrix, one BLAS matmul with the k×d direction matrix
    (closure-shipped — k·d floats, KBs), and the (n, k) result re-wraps
    as a list column.  No shuffle, no per-row Python; NULL vectors
    project to NULL, and any other row whose length is not the sketch
    dim (an empty one too) raises ``ValueError``.

    The sketch certifies the projection quality: the captured spectral
    mass of the top-k directions is within ``spectral_error_bound()``
    of the true top-k mass (FD's PSD sandwich), so 'how much variance
    k components keep' is answerable without an exact pass."""
    sk = sketch.sketch if isinstance(sketch, BuildResult) else sketch
    _, vt = sk.directions(k)
    if vt.shape[0] < k:
        raise ValueError(
            f"sketch holds only {vt.shape[0]} directions, asked for {k}"
        )
    v = np.ascontiguousarray(vt, dtype=np.float64)  # (k, d)
    dim = sk.dim

    def project(batch):
        col = batch.column(vec_col)
        nz, m = _vectors(col, dim)  # a ragged non-null row raises here
        if int(nz.sum()) != len(col) - col.null_count:
            raise ValueError(
                f"vector column rows must have length {dim} "
                "(found a non-null row of length 0)"
            )
        return _fixed_list(m @ v.T, valid=nz)  # NULL rows stay NULL

    return _arrow_column(df, out_col, T.ArrayType(T.DoubleType()), project)
