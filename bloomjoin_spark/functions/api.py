"""Thin user-facing wrappers over the two-phase sketch harness —
the ``approx_*`` verbs a reference user reaches for first."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..aggregate import build_sketch
from ..hashing import hash_series
from ..sketches import CmsSketch, HllSketch, KllSketch, TDigestSketch


def approx_distinct(
    df: DataFrame,
    cols: list[str] | str,
    p: int = 14,
    token_col: str | None = None,
    **kw,
) -> int:
    """HLL distinct count of a key (or of all token ids when
    ``token_col`` is given). Error ≈ 1.04/√2^p."""
    res = build_sketch(
        df,
        lambda: HllSketch(p=p),
        cols=None if token_col else cols,
        token_col=token_col,
        **kw,
    )
    return res.sketch.cardinality()


def approx_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    method: str = "tdigest",
    token_col: str | None = None,
    **kw,
) -> list[float]:
    """t-digest (tail-accurate) or KLL (worst-case bound) quantiles."""
    if method not in ("tdigest", "kll"):
        raise ValueError("method must be 'tdigest' or 'kll'")
    compression = kw.pop("compression", 200.0)
    k = kw.pop("k", 200)
    factory = (
        (lambda: TDigestSketch(compression))
        if method == "tdigest"
        else (lambda: KllSketch(k))
    )
    res = build_sketch(
        df, factory, cols=None if token_col else [col], token_col=token_col, **kw
    )
    return [float(v) for v in np.atleast_1d(res.sketch.quantile(qs))]


def token_frequencies(
    df: DataFrame,
    keys,
    cols: list[str] | str | None = None,
    token_col: str | None = None,
    eps: float = 1e-4,
    delta: float = 1e-3,
    **kw,
) -> dict:
    """CMS point-frequency estimates for ``keys`` (est ≥ true,
    ≤ true + εN w.p. 1−δ). Returns {key: estimate}."""
    res = build_sketch(
        df, lambda: CmsSketch(eps, delta), cols=cols, token_col=token_col, **kw
    )
    s = pd.Series(keys)
    est = res.sketch.query_hashes(hash_series(s))
    return dict(zip(list(keys), [int(e) for e in est]))


_SAFE_DOUBLE_INT = 1 << 53


def _canonical_col_hash64(df: DataFrame, col: str):
    """Per-column canonical 64-bit hash for the PUBLIC key-hash API —
    the reference's exported hasher is type-aware: int 5, double 5.0 and
    factor/char levels hash identically
    (``/root/reference/src/hash_keys.cpp:58-68,147-243``, pinned by
    ``tests/testthat/test-cross-type-keys.R:16-44``).  Rules, matching
    the Python-side ``hash_numeric_array`` dispatch exactly:

    - numerics hash as double (int 5 == double 5.0), EXCEPT values a
      double cannot keep DISTINCT, which hash exact native bits:
      bigint magnitudes beyond 2^53 (snowflake-style ids 2^53+1 and
      2^53+2 become the same double), and decimals that overflow
      float64's ~15.95 significant digits.  A decimal column with
      total precision ≤ 15 always casts (15-digit decimals round-trip
      float64 injectively — note the gate is on TOTAL precision, not
      integer digits: decimal(16,1) values 999999999999990.2 vs .3 are
      distinct keys one double must conflate).  Wider decimals branch
      per value on the UNSCALED magnitude: |value|·10^scale ≤ 2^53
      guarantees 1-unit-in-last-place spacing survives the cast
      (relative spacing 1/unscaled ≥ 2^-53 ≥ double ULP).
      CAVEAT on the exact branches: each hashes its column's native
      representation, so join-EQUAL values of DIFFERENT types beyond
      the double-safe range (bigint 2^53+1 vs decimal(38,0) 2^53+1 —
      equal under Spark's decimal-widening join equality) hash
      DIFFERENTLY; for such cross-type joins cast both key columns to
      one type before hashing.  (Inside bloom_join this cannot cause
      false negatives — both sides share one `_common_cast` — the
      caveat is for hashes you build and probe yourself.)  Equal
      values at different declared decimal scales also hash
      differently in the exact branch — keep key columns on one type;
    - date hashes as timestamp (equal instants match);
    - everything else hashes its native bits."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes)[col].lower()
    c = F.col(col)
    if dt.startswith("decimal"):
        try:
            prec, scale = (int(v) for v in dt[dt.index("(") + 1 : -1].split(","))
        except ValueError:
            prec, scale = 38, 18  # unparsable → assume the widest
        if prec <= 15:
            return F.xxhash64(c.cast("double"))
        if scale == 0:
            # integer decimals ≤ 2^53 are exactly representable
            safe_mag = float(_SAFE_DOUBLE_INT)
        else:
            # fractional: 10^-scale key spacing must exceed one double
            # ULP with margin — relative spacing 1/unscaled ≥ 2^-52
            safe_mag = float(1 << 52) / (10 ** min(scale, 30))
        return F.when(
            F.abs(c) <= F.lit(safe_mag), F.xxhash64(c.cast("double"))
        ).otherwise(F.xxhash64(c))
    if dt in ("tinyint", "smallint", "int", "float", "double"):
        return F.xxhash64(c.cast("double"))
    if dt == "bigint":
        return F.when(
            F.abs(c) <= F.lit(_SAFE_DOUBLE_INT), F.xxhash64(c.cast("double"))
        ).otherwise(F.xxhash64(c))
    if dt == "date":
        return F.xxhash64(c.cast("timestamp"))
    return F.xxhash64(c)


def _canonical_hash64(df: DataFrame, cols: list[str]):
    """Composite canonical hash: one branched sub-hash per column,
    combined with one more ``xxhash64`` for multi-column keys (the
    bigint branch is per column, so it cannot live inside a single
    joint xxhash64 call)."""
    from pyspark.sql import functions as F

    parts = [_canonical_col_hash64(df, c) for c in cols]
    return parts[0] if len(parts) == 1 else F.xxhash64(*parts)


def hash_keys64(df: DataFrame, cols: list[str] | str, out_col: str = "key_hash64") -> DataFrame:
    """Stable 64-bit composite-key row hash, computed JVM-side inside
    whole-stage codegen (canonically hashed keys —
    see ``_canonical_col_hash64``). Public parity with the reference's
    exported ``hash_keys32`` (``/root/reference/R/hash_keys.R:13-62``,
    ``NAMESPACE:5-7``) — same role (one shared, deterministic key hash
    for joins and sketch ingestion) and same cross-type invariant,
    Spark-idiomatic implementation.

    NOT interchangeable with ``hash_keys_pandas``: this hasher is
    xxhash64-based (JVM), the pandas one is splitmix64-based (numpy) —
    each is internally canonical (int 5 == double 5.0 within itself),
    but the two produce DIFFERENT hash values for the same key.  The
    reference exports ONE hasher used everywhere; here pick per
    pipeline: DataFrame-side keys → this, Arrow/pandas-side sketch
    ingestion → ``hash_keys_pandas``. Never mix them across the build
    and probe of one structure.
    """
    if isinstance(cols, str):
        cols = [cols]
    return df.withColumn(out_col, _canonical_hash64(df, cols))


def hash_keys32(df: DataFrame, cols: list[str] | str, out_col: str = "key_hash32") -> DataFrame:
    """32-bit variant: xor-fold of the 64-bit hash (the reference folds
    its 64-bit accumulator the same way, src/hash_keys.cpp:247-253)."""
    from pyspark.sql import functions as F

    if isinstance(cols, str):
        cols = [cols]
    h = _canonical_hash64(df, cols)
    folded = F.shiftrightunsigned(h, 32).bitwiseXOR(
        h.bitwiseAND(F.lit(0xFFFFFFFF))
    )
    # reinterpret the unsigned 32-bit fold as signed int32 (ANSI-safe)
    signed = F.pmod(folded + F.lit(2**31), F.lit(2**32)) - F.lit(2**31)
    return df.withColumn(out_col, signed.cast("int"))


def hash_keys_pandas(pdf: pd.DataFrame, cols: list[str] | str) -> np.ndarray:
    """Python-side canonical row hash over a pandas frame — the exact
    pipeline sketch ingestion uses (cross-type canonicalisation of
    §1.2: int 5 == double 5.0, -0 == +0, every null → one sentinel).
    uint64 output; xor-fold to 32 bits yourself if needed.

    NOT interchangeable with ``hash_keys64``: this is the numpy
    splitmix64 kernel, that is JVM xxhash64 — same canonicalisation
    contract, different hash values for the same key (see the
    cross-reference note there).  Anything built with one must be
    probed with the same one."""
    from ..hashing import hash_columns

    if isinstance(cols, str):
        cols = [cols]
    return hash_columns(pdf, list(cols))


def token_profile(
    df: DataFrame,
    token_col: str = "tokens",
    hll_p: int = 14,
    cms_eps: float = 1e-4,
    cms_delta: float = 1e-3,
    quantiles: list[float] = (0.5, 0.9, 0.99),
    top_tokens=None,
    topk: int = 0,
) -> dict:
    """One-pass corpus profile of a token column (the 100 TB shape —
    one scan feeds every sketch via ``build_sketches``): distinct token
    count, token-id quantiles (t-digest + KLL), total tokens, optional
    CMS frequencies for ``top_tokens``, and — with ``topk > 0`` — the
    SpaceSaving heavy-hitter list (``"heavy_hitters"``: (token, count,
    error) rows) from the same single scan."""
    from ..aggregate import build_sketches
    from ..sketches import HllSketch, KllSketch, TDigestSketch, TopKSketch

    factories = {
        "hll": lambda: HllSketch(hll_p),
        "cms": lambda: CmsSketch(cms_eps, cms_delta),
        "tdigest": lambda: TDigestSketch(200.0),
        "kll": lambda: KllSketch(200),
    }
    if topk > 0:
        factories["topk"] = lambda: TopKSketch(topk)
    res = build_sketches(df, factories, token_col=token_col)
    out = {
        "distinct_tokens": res["hll"].sketch.cardinality(),
        "total_tokens": res["cms"].sketch.total,
        "rows": res["hll"].n_rows,
        "partitions": res["hll"].n_partitions,
        "token_quantiles_tdigest": [
            float(v) for v in np.atleast_1d(res["tdigest"].sketch.quantile(list(quantiles)))
        ],
        "token_quantiles_kll": [
            float(v) for v in np.atleast_1d(res["kll"].sketch.quantile(list(quantiles)))
        ],
    }
    if top_tokens is not None:
        from ..hashing import hash_float64

        h = hash_float64(np.asarray(list(top_tokens), dtype=np.float64))
        est = res["cms"].sketch.query_hashes(h)
        out["token_frequencies"] = dict(zip(list(top_tokens), [int(e) for e in est]))
    if topk > 0:
        out["heavy_hitters"] = res["topk"].sketch.topk()
    return out
