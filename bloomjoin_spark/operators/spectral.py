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
    "spectral_drift",
    "spectral_profile",
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


def spectral_drift(
    a: FrequentDirectionsSketch | BuildResult,
    b: FrequentDirectionsSketch | BuildResult,
) -> dict:
    """Certified drift between two embedding populations from their FD
    sketches alone (two snapshots, two sources, train vs incoming):
    the measured distance is ``d = ‖Ga/na − Gb/nb‖₂`` on the per-row
    normalized Gram estimates, and because each sketch certifies
    ``0 ⪯ AᵀA − BᵀB ⪯ δ·I``, the TRUE normalized Gram distance lies in
    ``[max(0, d − c), d + c]`` with certificate ``c = δa/na + δb/nb``
    (triangle inequality) — a drift alarm that can be trusted without
    any exact pass over either population.  Driver-side only: inputs
    are two ℓ×d states."""
    sa = a.sketch if isinstance(a, BuildResult) else a
    sb = b.sketch if isinstance(b, BuildResult) else b
    if sa.dim != sb.dim:
        raise ValueError(
            f"cannot compare sketches of different dim: {sa.dim} vs {sb.dim}"
        )
    if sa.n_rows == 0 or sb.n_rows == 0:
        raise ValueError("both sketches must have ingested rows")
    ga = sa.gram() / sa.n_rows
    gb = sb.gram() / sb.n_rows
    d = float(np.abs(np.linalg.eigvalsh(ga - gb)).max())
    cert = float(
        sa.spectral_error_bound() / sa.n_rows
        + sb.spectral_error_bound() / sb.n_rows
    )
    return {
        "spectral_distance": d,
        "certificate": cert,
        "true_distance_lower": max(0.0, d - cert),
        "true_distance_upper": d + cert,
        "n_rows_a": int(sa.n_rows),
        "n_rows_b": int(sb.n_rows),
    }


def spectral_profile(result: BuildResult, k: int = 16) -> dict:
    """Driver-side summary of a built FD sketch: top-k singular values²
    of the sketch, cumulative mass fractions, and the certified error
    bound — the input to 'how many PCA components before IVF training'."""
    sk = result.sketch
    sv2, _ = sk.directions(k)
    total = float(sk.fro_sq)
    cum = np.cumsum(sv2) / total if total > 0 else np.zeros_like(sv2)
    return {
        "n_rows": int(sk.n_rows),
        "dim": int(sk.dim),
        "ell": int(sk.ell),
        "fro_sq": total,
        "sv2": [float(v) for v in sv2],
        "cum_mass_frac": [float(v) for v in cum],
        "spectral_error_bound": float(sk.spectral_error_bound()),
        "is_exact": bool(sk.is_exact),
    }
