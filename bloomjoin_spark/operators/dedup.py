"""Deduplication for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale shape (100 TB): everything is expressed as DataFrame ops whose
shuffles are on *short keys* (hashes/buckets), never on document text:

- exact: groupBy(md5(text)) — one shuffle of 16-byte keys;
- MinHash/LSH: signatures via one vectorized pandas UDF (flat numpy
  ``minimum.reduceat`` over Arrow batches), then shingle→band→bucket
  explode + groupBy bucket — candidate generation never compares
  documents pairwise;
- verification: exact Jaccard via JVM ``array_intersect``/``array_union``
  on shingle-hash arrays (no Python);
- duplicate clusters: iterative min-label propagation (small-diameter
  dup clusters converge in 2-3 joins).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..hashing import splitmix64

_U64 = np.uint64
_PERM_SEED = 0x3C6EF372FE94F82A


# ---------------------------------------------------------------------------
# canonical content fingerprint
# ---------------------------------------------------------------------------

def content_fingerprint(text_col: str = "text"):
    """THE canonical exact-dup key: ``md5(lower(trim(text)))``.

    Every tier that compares content across calls — ``exact_dedup``,
    ``incremental_dedup`` and its ``build_history_filter``, the
    streaming history probe (``streaming/sketch_stream.py``), and
    ``text.add_fingerprint`` — MUST build the key through this one
    expression: the tiers compose only because batch, stream, and
    history fingerprints live in one domain, and an edit applied to a
    single copy would break that silently."""
    return F.md5(F.lower(F.trim(F.col(text_col))))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per exact content (md5 of lower/trim), choosing the
    smallest id — deterministic, portable to the SQL oracle."""
    fp = content_fingerprint(text_col).alias("__fp")
    keep = (
        df.select(fp, F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingling (all JVM-side)
# ---------------------------------------------------------------------------

def with_shingle_hashes(
    df: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Distinct xxhash64 values of word n-grams — the Jaccard domain.
    Pure JVM higher-order functions: each token hashes ONCE, then the
    n-gram hash combines n consecutive token hashes with n−1 chained
    elementwise ``zip_with`` passes — O(n·L) per document.  (Slicing the
    token array at every position is O(L²) per document: measured 2×
    the whole pipeline's wall time on ordinary web-page-length text,
    and quadratic blow-up on long documents.)  Short docs (<n words)
    fall back to the whole text as one shingle."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    th = F.transform(toks, lambda t: F.xxhash64(t))
    m = F.size(th) - (n - 1)
    acc = F.slice(th, 1, m)
    for i in range(1, n):
        acc = F.zip_with(acc, F.slice(th, F.lit(i + 1), m),
                         lambda x, y: F.xxhash64(x, y))
    shingles = F.when(F.size(toks) >= n, acc).otherwise(
        F.array(F.xxhash64(F.lower(F.trim(F.col(text_col)))))
    )
    return df.withColumn(out_col, F.array_distinct(shingles))


def jaccard_col(a, b):
    """Exact Jaccard between two shingle-hash arrays (JVM)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


#: slack for threshold·L products in pruning predicates: IEEE doubles
#: round 0.55·100 to 55.000000000000001, which would prune a TRUE pair
#: sitting exactly at the threshold (J = 55/100 = t).  Pruning filters
#: subtract this epsilon so boundary pairs always reach the exact
#: verify join — the relaxation only ever ADMITS candidates (recall-
#: safe); the verify comparison itself uses correctly-rounded division
#: against the same threshold literal, which cannot disagree.
_T_EPS = 1e-9


def _verify_pairs(sh: DataFrame, cand: DataFrame, id_col: str,
                  threshold: float) -> DataFrame:
    """Shared exact-Jaccard verification: join candidate (id_a, id_b)
    pairs back to their full shingle arrays, compute J (JVM
    array_intersect), keep ≥ threshold, round 6.  Eager
    localCheckpoint so the caller can release the shingle cache."""
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard_col(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.localCheckpoint()


def _keep_min_reps(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Shared keep rule: min-label clusters over the pair graph, keep
    the min-id representative per cluster (identical across the exact,
    minhash, and Jaccard dedup tiers so they compose
    deterministically)."""
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def _list_lens_and_flat(col):
    """(lens int64, flat values ndarray) of an Arrow list column —
    zero-copy: one offsets diff + one flatten, never an object per row."""
    import pyarrow.compute as pc

    lens = (
        pc.list_value_length(col)
        .fill_null(0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return lens, flat


def add_minhash_signature(
    df: DataFrame,
    shingle_col: str = "shingles",
    num_perm: int = 128,
    out_col: str = "minhash",
) -> DataFrame:
    """num_perm minhash values per row. Arrow-native (``mapInArrow``):
    the shingle list column is ONE flat int64 buffer + offsets, so the
    whole batch is flattened zero-copy and each permutation is one
    splitmix64 + ``np.minimum.reduceat`` over row offsets — no per-row
    numpy object materialization (the allocator-churn pathology
    aggregate.py documents and avoids for sketch ingest)."""
    seeds = splitmix64(
        np.arange(1, num_perm + 1, dtype=np.uint64) * _U64(_PERM_SEED)
    )

    def sig(it):
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            sidx = batch.schema.get_field_index(shingle_col)
            lens, flat = _list_lens_and_flat(batch.column(sidx))
            out = np.full((n, num_perm), np.iinfo(np.int64).max, dtype=np.int64)
            nz = lens > 0
            if nz.any():
                flat_u = flat.astype(np.int64, copy=False).view(np.uint64)
                offsets = np.concatenate([[0], np.cumsum(lens)[:-1]])[nz]
                mins = np.empty((num_perm, int(nz.sum())), dtype=np.uint64)
                for j in range(num_perm):
                    hp = splitmix64(flat_u ^ seeds[j])
                    mins[j] = np.minimum.reduceat(hp, offsets)
                # store as int64 (same bits) for Spark's long type
                out[nz] = mins.T.view(np.int64)
            arrays = [
                batch.column(i)
                for i, f in enumerate(batch.schema)
                if f.name != shingle_col
            ]
            names = [f.name for f in batch.schema if f.name != shingle_col]
            sig_list = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * num_perm, num_perm, dtype=np.int32)
                ),
                pa.array(out.ravel(), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                arrays + [sig_list], names=names + [out_col]
            )

    out_schema = ", ".join(
        f"{name} {dtype}"
        for name, dtype in _schema_without(df, shingle_col)
    ) + f", {out_col} array<bigint>"
    return df.mapInArrow(sig, schema=out_schema)


def _schema_without(df: DataFrame, drop: str):
    for f in df.schema.fields:
        if f.name != drop:
            yield f.name, f.dataType.simpleString()


#: per-operator stats from the LAST _drop_oversized_buckets run in this
#: process — filled even when the caller passes no ``dropped_report``,
#: so pipelines that filter warnings can still DETECT a recall change
#: programmatically (``last_dropped_stats``).
_LAST_DROPPED: dict[str, dict] = {}


def last_dropped_stats(op_name: str | None = None) -> dict:
    """Bucket-cap stats of the most recent capped operator run(s):
    {op_name: {dropped_buckets, dropped_bucket_rows, max_bucket_size}}
    (or one op's dict when ``op_name`` is given; empty dict if that op
    has not run).  Driver-side, process-local — check it right after
    the operator call whose recall you care about."""
    if op_name is not None:
        return dict(_LAST_DROPPED.get(op_name, {}))
    return {k: dict(v) for k, v in _LAST_DROPPED.items()}


def _drop_oversized_buckets(
    exploded: DataFrame,
    group_cols: list[str],
    max_bucket_size: int | None,
    dropped_report: dict | None,
    op_name: str,
) -> DataFrame:
    """Shared degenerate-bucket guard for the O(bucket²) candidate
    self-joins (LSH bands, simhash chunks, embedding buckets): drop
    groups larger than ``max_bucket_size`` via a broadcast anti-join on
    the (small) oversized-group list.

    ALWAYS warns when buckets are dropped — the size aggregate is one
    cheap job over the already-materialized banded table, so a silent
    recall regression is never possible; ``dropped_report`` (optional)
    additionally receives (dropped_buckets, dropped_bucket_rows,
    max_bucket_size).  ``max_bucket_size=None`` disables the guard."""
    if max_bucket_size is None:
        return exploded
    import warnings

    big = (
        exploded.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > max_bucket_size)
    )
    row = big.agg(
        F.count(F.lit(1)).alias("nb"),
        F.coalesce(F.sum("__bn"), F.lit(0)).alias("nr"),
    ).first()
    stats = {
        "dropped_buckets": int(row["nb"]),
        "dropped_bucket_rows": int(row["nr"]),
        "max_bucket_size": max_bucket_size,
    }
    _LAST_DROPPED[op_name] = stats
    if dropped_report is not None:
        dropped_report.update(stats)
    if not row["nb"]:
        return exploded
    warnings.warn(
        f"{op_name}: dropped {row['nb']} bucket(s) holding {row['nr']} rows "
        f"(> max_bucket_size={max_bucket_size}); run exact_dedup first for "
        "identical-content heavy hitters",
        stacklevel=3,
    )
    return exploded.join(
        F.broadcast(big.select(*group_cols)), on=group_cols, how="left_anti"
    )


class LshPlan:
    """Chosen LSH banding + its S-curve error areas (see lsh_plan)."""

    __slots__ = ("bands", "rows", "num_perm", "threshold",
                 "fp_area", "fn_area", "cost", "midpoint")

    def __init__(self, bands, rows, num_perm, threshold,
                 fp_area, fn_area, cost, midpoint):
        self.bands = bands
        self.rows = rows
        self.num_perm = num_perm
        self.threshold = threshold
        self.fp_area = fp_area
        self.fn_area = fn_area
        self.cost = cost
        self.midpoint = midpoint

    def __repr__(self):
        return (
            f"LshPlan(bands={self.bands}, rows={self.rows}, "
            f"num_perm={self.num_perm}, threshold={self.threshold}, "
            f"fp_area={self.fp_area:.4f}, fn_area={self.fn_area:.4f}, "
            f"midpoint={self.midpoint:.4f})"
        )


def lsh_plan_table(
    threshold: float, num_perm: int = 128, grid: int = 1000
) -> list[tuple[int, int, float, float]]:
    """S-curve error table for every banding ``lsh_candidate_pairs``
    can actually run: for b in 1..num_perm the implementation uses
    r = num_perm // b rows per band (the first b·r signature slots),
    and two documents at Jaccard s collide with
    p(s) = 1 − (1 − s^r)^b.  For each candidate this integrates, on a
    midpoint grid over s ∈ (0, 1),

    - ``fp_area`` = ∫₀ᵗ p(s) ds — expected candidate mass from BELOW-
      threshold pairs (wasted verification work), and
    - ``fn_area`` = ∫ₜ¹ (1 − p(s)) ds — expected TRUE pairs the banding
      never surfaces (recall loss; the exact verify join cannot recover
      them).

    Returns [(bands, rows, fp_area, fn_area)] rounded to 4 decimals
    (areas are engine-portable at that precision — pow/sum ULP drift
    across numeric engines stays far below it), ordered by bands.
    Driver-side closed-form math over ~num_perm·grid doubles — no data
    is touched (same contract as ``bloom_params``).

    threshold=1.0 (exact-duplicate dedup) is legal, matching the
    sibling join operators' (0, 1] domain: fn_area is identically 0
    there (no above-threshold mass below s=1), so the argmin reduces
    to pure fp minimization and picks the 1-band full-signature plan."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"lsh_plan_table: threshold must be in (0, 1], got {threshold}"
        )
    if num_perm < 1 or grid < 10:
        raise ValueError("lsh_plan_table: num_perm >= 1 and grid >= 10 required")
    s = (np.arange(grid, dtype=np.float64) + 0.5) / grid
    below = s < threshold
    out = []
    for b in range(1, num_perm + 1):
        r = num_perm // b
        p = 1.0 - np.power(1.0 - np.power(s, float(r)), float(b))
        fp = round(float(p[below].sum()) / grid, 4)
        fn = round(float((1.0 - p[~below]).sum()) / grid, 4)
        out.append((b, r, fp, fn))
    return out


def lsh_plan(
    threshold: float,
    num_perm: int = 128,
    grid: int = 1000,
    fn_weight: float = 1.0,
) -> LshPlan:
    """Pick (bands, rows) for ``lsh_candidate_pairs`` from a target
    Jaccard threshold by minimizing fp_area + fn_weight·fn_area over
    the lsh_plan_table candidates (fn_weight > 1 biases toward recall
    — a missed true duplicate is usually costlier than a wasted verify
    row).  Ties break toward FEWER bands: bands is the banded-table
    fan-out (one shuffle row per band per doc), so the cheaper plan
    wins when the curves are equal.  ``midpoint`` is the classic
    (1/b)^(1/r) s-curve inflection estimate for the chosen plan."""
    table = lsh_plan_table(threshold, num_perm, grid)
    best = min(table, key=lambda t: (t[2] + fn_weight * t[3], t[0]))
    b, r, fp, fn = best
    return LshPlan(
        bands=b, rows=r, num_perm=num_perm, threshold=threshold,
        fp_area=fp, fn_area=fn, cost=fp + fn_weight * fn,
        midpoint=(1.0 / b) ** (1.0 / r),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
    max_bucket_size: int | None = 2000,
    dropped_report: dict | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from LSH banding: two docs
    collide iff some band of their signatures is identical. Shuffles
    only (band, bucket_hash, id) triples.

    DEGENERATE-BUCKET GUARD: the bucket self-join is O(bucket²) — one
    boilerplate bucket of 10⁶ ids at 100 TB is 10¹² candidate pairs.
    Buckets over ``max_bucket_size`` are dropped (broadcast anti-join
    on the small oversized-bucket list), with a warning and, when a
    ``dropped_report`` dict is passed, (dropped_buckets, dropped_rows,
    max_bucket_size) filled in.  Rationale: a bucket that large is
    near-identical boilerplate — ``exact_dedup`` removes identical
    copies in one cheap hash-groupBy; pass ``max_bucket_size=None`` to
    disable."""
    num_perm_col = F.size(F.col(sig_col))
    rows_per_band = F.floor(num_perm_col / bands).cast("int")
    banded = sig_df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col(sig_col),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    # one materialization point: the banded table feeds the bucket-size
    # aggregate AND both sides of the self-join — without it Catalyst
    # re-runs the signature UDF once per branch (4× the expensive stage,
    # observed in the physical plan). Lazy local checkpoint: computed on
    # first use, reused by every branch, freed by the ContextCleaner.
    banded = banded.localCheckpoint(eager=False)
    banded = _drop_oversized_buckets(
        banded, ["band", "bucket"], max_bucket_size, dropped_report,
        "lsh_candidate_pairs",
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col(f"a.band") == F.col("b.band"),
                F.col(f"a.bucket") == F.col("b.bucket"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
    bands: int | str = 16,
    threshold: float = 0.7,
    max_bucket_size: int | None = 2000,
    dropped_report: dict | None = None,
) -> DataFrame:
    """Near-dup pairs with exact-Jaccard verification:
    (id_a, id_b, jaccard) where jaccard ≥ threshold.

    ``bands="auto"`` derives the banding from the threshold via
    :func:`lsh_plan` (minimum S-curve error area) instead of the fixed
    default — the fixed 16 bands target t≈0.7; at t=0.9 they
    over-generate candidates and at t=0.5 they silently lose recall.

    The shingle table feeds three consumers (signatures + both sides of
    the verification join) — persist it so shingling runs once; the
    verified result is localCheckpoint-materialized so the shingle cache
    can be RELEASED before returning (no storage accumulation across
    repeated calls in a long-lived session)."""
    if bands == "auto":
        bands = lsh_plan(threshold, num_perm).bands
    elif isinstance(bands, bool) or not isinstance(bands, int):
        # bool is an int subclass: bands=True would silently run a
        # 1-band full-signature LSH that misses every non-identical
        # near-dup — exactly the failure this validation exists for
        raise ValueError(
            f'minhash_dedup_pairs: bands must be an int or "auto", got {bands!r}'
        )
    sh = with_shingle_hashes(df, text_col, n).select(id_col, "shingles").persist()
    try:
        sigs = add_minhash_signature(sh.select(id_col, "shingles"), "shingles", num_perm)
        cand = lsh_candidate_pairs(
            sigs, id_col, "minhash", bands,
            max_bucket_size=max_bucket_size, dropped_report=dropped_report,
        )
        # _verify_pairs is eager (localCheckpoint): materializes the
        # (small) verified pair set and cuts its lineage off the shingle
        # cache so unpersist below is safe
        return _verify_pairs(sh, cand, id_col, threshold)
    finally:
        sh.unpersist()


def dedup_clusters(pairs: DataFrame, id_col_a: str = "id_a", id_col_b: str = "id_b",
                   max_iter: int = 10,
                   driver_max_edges: int = 2_000_000) -> DataFrame:
    """Connected components over dup pairs via min-label propagation:
    (id, cluster_id=min id in component). Dup clusters have tiny
    diameter, so this converges in 2-3 iterations.

    Small pair sets (≤ ``driver_max_edges`` directed edges — the edge
    set is already eagerly materialized, so the gate costs one count of
    checkpointed rows) take a driver union-find instead: each
    distributed iteration is two jobs (join-aggregate + convergence
    check), so a 3-iteration run pays ~6 scheduler round-trips to label
    a graph that fits in a few MB.  The union-find computes the same
    min-id component labels exactly; the iterative path remains for
    pair sets past the gate (at 100 TB a pair graph can be billions of
    edges — that must stay distributed)."""
    edges = pairs.select(
        F.col(id_col_a).alias("src"), F.col(id_col_b).alias("dst")
    )
    # gate on the PAIR count first (the package's callers pass an
    # eagerly-checkpointed pair set, so this is a cheap job): the fast
    # path then collects the directed edges straight to the union-find —
    # no symmetric-union checkpoint job at all.  Only the iterative path
    # materializes sym (it re-joins the edge set every iteration).
    if 2 * edges.count() <= driver_max_edges:
        return _driver_union_find(edges)
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.localCheckpoint()  # edge set reused every iteration
    labels = (
        sym.select("src").union(sym.select(F.col("dst").alias("src")))
        .distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("label"))
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the changed flag in the SAME plan so convergence costs
        # one aggregation over the just-materialized iterate — no second
        # join-and-count job, no unbroken lineage across iterations
        new_labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nbr_label"), F.col("label")) < F.col("label"))
                .cast("long")
                .alias("__chg"),
            )
            .localCheckpoint()  # eager: materializes + cuts lineage; prior
            # iterates become unreferenced and the ContextCleaner drops them
        )
        changed = new_labels.agg(F.sum("__chg")).first()[0]
        labels = new_labels.drop("__chg")
        if not changed:
            break
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def _driver_union_find(sym: DataFrame) -> DataFrame:
    """Min-root union-find over a BOUNDED (gate-checked) edge frame
    (directed or symmetric — union-find is direction-blind) — the
    small-graph fast path of :func:`dedup_clusters`.  Returns the same
    ``(id, cluster_id=min id in component)`` labels as min-label
    propagation: union-by-min keeps every root the smallest id of its
    component (Python and Spark compare strings identically here — both
    order by codepoint)."""
    spark = sym.sparkSession
    id_type = sym.schema["src"].dataType.simpleString()
    out_schema = f"id {id_type}, cluster_id {id_type}"
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for row in sym.collect():  # bounded by driver_max_edges (gate above)
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(x, find(x)) for x in parent]
    return spark.createDataFrame(rows, schema=out_schema)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """Full near-dup dedup: keep the min-id representative per cluster."""
    pairs = minhash_dedup_pairs(df, text_col, id_col, **kw)
    return _keep_min_reps(df, pairs, id_col)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def add_simhash(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """64-bit SimHash over word hashes.

    Split of labor built for scale: tokenization AND token hashing run
    JVM-SIDE (``split`` + ``transform``/``xxhash64`` inside whole-stage
    codegen — Python never touches a string); the Arrow UDF receives a
    flat int64 hash buffer and only does the bit voting, one bit-plane
    at a time (ones-count per row via ``np.add.reduceat`` of an int32
    0/1 view).  Peak extra memory per batch is ONE int32 array over the
    token instances — never the (tokens × 64) ±1 matrix of the naive
    formulation (~512 B/token, an executor-OOM at long-document ×
    10k-row Arrow batches)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tmp = "__sh_tok_hashes"
    with_h = df.withColumn(tmp, F.transform(toks, lambda t: F.xxhash64(t)))

    def sim(it):
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            hidx = batch.schema.get_field_index(tmp)
            lens, flat = _list_lens_and_flat(batch.column(hidx))
            out = np.zeros(n, dtype=np.uint64)
            nz = lens > 0
            if nz.any():
                flat_u = flat.astype(np.int64, copy=False).view(np.uint64)
                offsets = np.concatenate([[0], np.cumsum(lens)[:-1]])[nz]
                ln = lens[nz]
                vals = np.zeros(ln.size, dtype=np.uint64)
                for j in range(64):
                    ones = np.add.reduceat(
                        ((flat_u >> _U64(j)) & _U64(1)).astype(np.int32), offsets
                    ).astype(np.int64)
                    # majority vote: bit j set iff ones > len/2
                    vals |= ((2 * ones - ln) > 0).astype(np.uint64) << _U64(j)
                out[nz] = vals
            arrays = [batch.column(i) for i, f in enumerate(batch.schema) if f.name != tmp]
            names = [f.name for f in batch.schema if f.name != tmp]
            yield pa.RecordBatch.from_arrays(
                arrays + [pa.array(out.view(np.int64))], names=names + [out_col]
            )

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} bigint"
    return with_h.mapInArrow(sim, schema=schema)


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str = "doc_id", sim_col: str = "simhash",
    max_hamming: int = 3,
    max_bucket_size: int | None = 2000,
    dropped_report: dict | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming. Banding: with
    4 16-bit bands, ≤3 flipped bits leave ≥1 band identical (pigeonhole),
    so candidate generation is ONE equi-join on (band, chunk) over the
    band-exploded table — same shape (and same degenerate-bucket guard)
    as ``lsh_candidate_pairs``: a popular chunk value (e.g. simhash 0
    from empty/boilerplate docs) is O(bucket²) in the self-join, so
    buckets over ``max_bucket_size`` are dropped with a warning.
    NOTE this cap is a new DEFAULT (previously uncapped): callers who
    want exhaustive pairs over legitimately large identical-chunk
    cohorts must pass ``max_bucket_size=None`` (or run ``exact_dedup``
    first — a dropped bucket is near-identical content)."""
    bands = max_hamming + 1
    width = 64 // bands
    mask = (1 << width) - 1
    exploded = df.select(
        F.col(id_col),
        F.col(sim_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col(sim_col), i * width)
                        .bitwiseAND(F.lit(mask).cast("bigint"))
                        .alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, sim_col, "bb.band", "bb.bucket")
    # shared materialization point for the cap aggregate + both join
    # sides (else an upstream simhash UDF re-runs once per branch)
    exploded = exploded.localCheckpoint(eager=False)
    exploded = _drop_oversized_buckets(
        exploded, ["band", "bucket"], max_bucket_size, dropped_report,
        "simhash_near_dup_pairs",
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{sim_col}").alias("sh_a"),
            F.col(f"b.{sim_col}").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard similarity join (prefix filtering)
# ---------------------------------------------------------------------------

def _rarity_prefix(ann: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """THE prefix-filter theorem, shared by both exact similarity joins
    (``ngram_jaccard_pairs``'s symmetric form and
    ``containment_pairs``'s one-sided form — the per-probe-doc bound is
    identical): rank each doc's shingles by GLOBAL rarity (df asc,
    value asc — one total order shared by all docs) and keep the first
    ``L − ceil(t·L) + 1``.  Two theorem-critical details live here ONCE:

    - −ε inside the ceil: when t·L is exactly an integer the double
      product can land one ULP HIGH and ceil one too far, shortening
      the prefix below the theorem's requirement (recall loss); the ε
      only ever LENGTHENS the prefix.
    - ``__df >= 2`` AFTER ranking: a singleton shingle still OCCUPIES
      its prefix position (dropping it before the window would promote
      commoner shingles into the prefix and change the guarantee), but
      it can never MATCH another doc in the equi-join — pruning it
      costs zero recall and, on a mostly-unique corpus, removes most
      of the candidate index.

    ``ann`` must carry (id_col, __L, __g, __df)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("__df").asc(), F.col("__g").asc()
    )
    prefix_len = (
        F.col("__L")
        - F.ceil(F.lit(threshold) * F.col("__L") - F.lit(_T_EPS))
        + 1
    )
    return (
        ann.withColumn("__r", F.row_number().over(w))
        .filter((F.col("__r") <= prefix_len) & (F.col("__df") >= 2))
        # __r rides along for the PPJoin position filter: both sides
        # rank by the SAME global order, so the first common shingle of
        # a true pair has the minimal rank on both sides and bounds the
        # overlap by min(L−r) + 1 (Xiao et al. 2008) — the candidate
        # join can prune on it with zero recall loss (any-edge-passes
        # keeps the minimal-rank edge of every true pair)
        .select(id_col, "__g", "__L", "__r")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.7,
    max_shingle_df: int | None = 2000,
    dropped_report: dict | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join: every pair (id_a < id_b)
    with J(shingles_a, shingles_b) ≥ threshold, found by prefix
    filtering (the AllPairs/PPJoin family) — no LSH approximation, so
    recall is 100% by construction (when ``max_shingle_df=None``).

    How it scales (the prefix-filter argument): order every document's
    distinct shingles by GLOBAL rarity (document frequency, ties by
    shingle value — one total order shared by all docs).  Two sets with
    J ≥ t must share a shingle within their first
    ``L - ceil(t*L) + 1`` rarest shingles, so only that prefix is
    exploded into the candidate join — each doc contributes
    ~(1-t)·L index entries of 8-byte keys, and candidates meet on
    *rare* shingles (tiny buckets) instead of every shared shingle.
    A final length filter (min(L) ≥ t·max(L)) prunes before the exact
    verify join on the full shingle arrays (JVM array_intersect).

    Shuffle inventory at 100 TB: one explode+groupBy for global df
    (8-byte keys), one window shuffle by id over (id, shingle, df)
    triples, the candidate equi-join on prefix shingles, one verify
    join.  Document text never shuffles.

    ``max_shingle_df`` is the shared degenerate-bucket guard: a shingle
    whose PREFIX bucket exceeds it is dropped (warned + recorded in
    ``last_dropped_stats('ngram_jaccard_pairs')``).  A shingle that
    common lands in a prefix only for docs with almost no rarer
    content (pure boilerplate) — but dropping does trade away the
    exactness guarantee for those docs; pass ``max_shingle_df=None``
    for the fully exact join.

    Distinct from ``minhash_dedup_pairs``: that trades recall for a
    fixed signature cost (banding can miss true pairs near the
    threshold); this is exact but candidate volume grows with shared
    rare-shingle mass.  Use minhash for web-scale fuzzy dedup, this
    for contracts where a missed duplicate is a correctness bug.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"ngram_jaccard_pairs: threshold must be in (0, 1], got {threshold}"
        )
    sh = with_shingle_hashes(df, text_col, n).select(id_col, "shingles").persist()
    try:
        ex = sh.select(
            F.col(id_col),
            F.size("shingles").alias("__L"),
            F.explode("shingles").alias("__g"),
        )
        freq = ex.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
        prefix = _rarity_prefix(ex.join(freq, "__g"), id_col, threshold)
        # one materialization point: the prefix table feeds the guard's
        # size aggregate and both sides of the self-join (else the
        # df-join + window recompute per branch)
        prefix = prefix.localCheckpoint(eager=False)
        prefix = _drop_oversized_buckets(
            prefix, ["__g"], max_shingle_df, dropped_report,
            "ngram_jaccard_pairs",
        )
        a, b = prefix.alias("a"), prefix.alias("b")
        cand = (
            a.join(
                b,
                on=[
                    F.col("a.__g") == F.col("b.__g"),
                    F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                ],
            )
            # length filter: J ≥ t forces t·max(L) ≤ |A∩B| ≤ min(L);
            # −ε so a pair sitting EXACTLY at the threshold (t·max an
            # integer, one ULP high as a double product) is not pruned
            .filter(
                F.least(F.col("a.__L"), F.col("b.__L")).cast("double")
                >= F.lit(threshold) * F.greatest(F.col("a.__L"), F.col("b.__L"))
                - F.lit(_T_EPS)
            )
            # position filter (PPJoin): J ≥ t needs overlap
            # I ≥ t·(L_a+L_b)/(1+t), and a match at ranks (r_a, r_b)
            # bounds I ≤ min(L_a−r_a, L_b−r_b) + 1.  Applied per edge
            # and OR-ed by the distinct below: the first common shingle
            # of a true pair (minimal rank on BOTH sides — one shared
            # global order) always passes, so recall is unchanged while
            # pairs meeting only on late prefix positions never reach
            # the verify join
            .filter(
                (
                    F.lit(1)
                    + F.least(
                        F.col("a.__L") - F.col("a.__r"),
                        F.col("b.__L") - F.col("b.__r"),
                    )
                ).cast("double")
                >= F.lit(threshold / (1.0 + threshold))
                * (F.col("a.__L") + F.col("b.__L"))
                - F.lit(_T_EPS)
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        return _verify_pairs(sh, cand, id_col, threshold)
    finally:
        sh.unpersist()


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """Full EXACT near-dup dedup: `ngram_jaccard_pairs` → min-label
    clusters → keep the min-id representative per cluster (the same
    keep rule as ``exact_dedup``/``minhash_dedup``, so the three dedup
    tiers compose deterministically).  The 100%-recall guarantee
    requires ``max_shingle_df=None`` — the default cap trades it for
    bounded degenerate-bucket cost, with a warning +
    ``last_dropped_stats`` when it bites."""
    pairs = ngram_jaccard_pairs(df, text_col, id_col, **kw)
    return _keep_min_reps(df, pairs, id_col)


# ---------------------------------------------------------------------------
# exact n-gram CONTAINMENT similarity join (one-sided prefix filtering)
# ---------------------------------------------------------------------------

def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | None = 2000,
    dropped_report: dict | None = None,
) -> DataFrame:
    """EXACT one-sided n-gram containment join: every ORDERED pair
    (id_a ≠ id_b) with C(a→b) = |S_a ∩ S_b| / |S_a| ≥ threshold,
    where S is the distinct word-n-gram set.  Returns
    (id_a, id_b, containment, len_a, len_b) — id_a is the CONTAINED
    document, len_* are distinct-shingle counts.

    Why a separate operator: symmetric Jaccard misses excerpt/quote
    duplication — a 200-word excerpt fully embedded in a 20k-word page
    has containment 1.0 but Jaccard ~0.01, so neither
    ``minhash_dedup_pairs`` (banding on symmetric signatures) nor
    ``ngram_jaccard_pairs`` surfaces it at any usable threshold.  This
    is the asymmetric-duplication pass an LLM-corpus pipeline runs to
    drop syndicated excerpts, quoted reposts, and doc-in-doc wrappers.

    How it scales (one-sided prefix filter): order each document's
    shingles by global rarity (document frequency, ties by value).  If
    C(a→b) ≥ t then a and b must share a shingle within a's first
    ``L_a − ceil(t·L_a) + 1`` rarest shingles — otherwise
    |S_a ∩ S_b| ≤ L_a − prefix_len < t·L_a.  So only a's prefix is
    exploded into the probe side; the index side must carry ALL
    shingles (a container doc can match an excerpt via ANY of its
    shingles), pruned to df ≥ 2 (a globally-unique shingle cannot
    match) — the index is the same (hash, id) volume the global-df
    aggregate already shuffles.  A length filter (L_b ≥ t·L_a, since
    |S_a ∩ S_b| ≤ L_b) prunes before the exact verify join.

    Shuffle inventory at 100 TB: one explode+groupBy for global df
    (8-byte keys), one window shuffle by id for prefix ranks, the
    probe-prefix × full-index equi-join on shingle hash, one verify
    join.  Document text never shuffles.  ``max_shingle_df`` caps the
    index-side bucket fan-out exactly as in ``ngram_jaccard_pairs``
    (dropping a shingle that common trades exactness for bounded cost;
    ``None`` restores the 100%-recall guarantee), recorded in
    ``last_dropped_stats('containment_pairs')``."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"containment_pairs: threshold must be in (0, 1], got {threshold}"
        )
    sh = with_shingle_hashes(df, text_col, n).select(id_col, "shingles").persist()
    try:
        ex = sh.select(
            F.col(id_col),
            F.size("shingles").alias("__L"),
            F.explode("shingles").alias("__g"),
        )
        freq = ex.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
        # one materialization point: the df-annotated explode feeds both
        # the probe-prefix window and the full index (else the explode +
        # df-join recompute per branch)
        ann = ex.join(freq, "__g").localCheckpoint(eager=False)
        probe = _rarity_prefix(ann, id_col, threshold)
        index = ann.filter(F.col("__df") >= 2).select(id_col, "__g", "__L")
        index = _drop_oversized_buckets(
            index, ["__g"], max_shingle_df, dropped_report,
            "containment_pairs",
        )
        a, b = probe.alias("a"), index.alias("b")
        cand = (
            a.join(
                b,
                on=[
                    F.col("a.__g") == F.col("b.__g"),
                    F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
                    # |S_a ∩ S_b| ≤ L_b, so C ≥ t forces L_b ≥ t·L_a;
                    # −ε keeps exact-threshold pairs (recall-safe)
                    F.col("b.__L").cast("double")
                    >= F.lit(threshold) * F.col("a.__L") - F.lit(_T_EPS),
                ],
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        sa = sh.select(F.col(id_col).alias("id_a"),
                       F.col("shingles").alias("sh_a"))
        sb = sh.select(F.col(id_col).alias("id_b"),
                       F.col("shingles").alias("sh_b"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        verified = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    inter.cast("double") / F.size("sh_a").cast("double"), 6
                ).alias("containment"),
                F.size("sh_a").alias("len_a"),
                F.size("sh_b").alias("len_b"),
            )
            .filter(F.col("containment") >= threshold)
        )
        # eager localCheckpoint cuts lineage off the shingle cache so
        # the finally-unpersist is safe (same contract as _verify_pairs)
        return verified.localCheckpoint()
    finally:
        sh.unpersist()


def containment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """Drop every document that is threshold-contained in a LARGER
    document (more distinct shingles; ties broken toward the smaller
    id, which mirrors the min-id keep rule of the symmetric dedup
    tiers).  The deterministic rule: doc a is removed iff some pair
    (a→b) passes with (len_b > len_a) OR (len_b == len_a AND
    id_b < id_a).  Containers are never removed on account of their
    excerpts, so the kept set is independent of evaluation order —
    unlike chained greedy removal, two excerpts of one page both drop
    even though the page also "contains" neither of them."""
    pairs = containment_pairs(df, text_col, id_col, **kw)
    dominated = (
        pairs.filter(
            (F.col("len_b") > F.col("len_a"))
            | ((F.col("len_b") == F.col("len_a"))
               & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return df.join(dominated, id_col, "left_anti")


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    **kw,
) -> DataFrame:
    """Full SimHash near-dup dedup: `add_simhash` →
    `simhash_near_dup_pairs` → min-label clusters → min-id keep rule
    (shared with the other dedup tiers).  The temporary simhash column
    never leaves this function."""
    sh = add_simhash(df.select(id_col, text_col), text_col)
    pairs = simhash_near_dup_pairs(sh, id_col, max_hamming=max_hamming, **kw)
    return _keep_min_reps(df, pairs, id_col)


# ---------------------------------------------------------------------------
# incremental dedup: new ingest batch vs a historical corpus
# ---------------------------------------------------------------------------

class IncrementalDedupReport:
    """Counters from one :func:`incremental_dedup` call.

    ``n_candidates`` counts the within-batch representatives sent to
    the exact verify join: filter hits when a history filter is given
    (``history_filter=`` or ``checkpoint_dir=``), every representative
    in the in-call lane.  ``n_definite_new`` counts the representatives
    that skipped the verify join as filter misses (always 0 in the
    in-call lane)."""

    __slots__ = (
        "n_batch", "n_within_dups", "n_definite_new",
        "n_candidates", "n_cross_dups", "filter_provided",
        "engine", "engine_fallback_reason",
    )

    def __init__(self):
        self.n_batch = 0
        self.n_within_dups = 0
        self.n_definite_new = 0
        self.n_candidates = 0
        self.n_cross_dups = 0
        self.filter_provided = False
        #: in-call lane: the verify join's engine ('native' all-JVM
        #: filter + codegen probe, or 'bloom' sketch); filter lanes:
        #: 'bloom' (broadcast BloomSketch + vectorized Arrow probe)
        self.engine = ""
        #: in-call lane: why the verify join's auto dispatch degraded to
        #: the sketch engine (None if it ran native) — the same
        #: observable-degradation contract as BloomJoinReport /
        #: DecontamReport (VERDICT r4 #3); None in the filter lanes
        self.engine_fallback_reason = None

    def __repr__(self):
        return (
            f"IncrementalDedupReport(batch={self.n_batch}, "
            f"within_dups={self.n_within_dups}, "
            f"definite_new={self.n_definite_new}, "
            f"candidates={self.n_candidates}, "
            f"cross_dups={self.n_cross_dups}, "
            f"filter_provided={self.filter_provided}, "
            f"engine={self.engine!r})"
        )


def build_history_filter(
    history: DataFrame,
    text_col: str = "text",
    fpp: float = 1e-4,
    n_hint: int | None = None,
    checkpoint_dir: str | None = None,
):
    """Build (or resume, via ``checkpoint_dir``) a mergeable Bloom
    filter over the exact-content fingerprints of a historical corpus.

    This is the persistent half of :func:`incremental_dedup`: at 100 TB
    the history side is scanned ONCE (resumably — killed builds recompute
    only missing partitions via the lineage checkpoint), and every
    subsequent ingest batch probes the serialized filter without
    touching history again.  Sizing uses a one-job
    ``approx_count_distinct`` over the fingerprints unless ``n_hint``
    is given (the reference's n_hint contract, R/bloomjoin.R:92-99).
    """
    from ..aggregate import build_sketch
    from ..sketches import BloomSketch

    fps = history.select(
        content_fingerprint(text_col).alias("__fp")
    )
    persisted = False
    if n_hint is None:
        # sizing and build both scan the fingerprints: persist the
        # 16-byte/row projection so the history text is read and
        # fingerprinted ONCE, not once per pass (same persist-for-two-
        # jobs contract as bloom_join's sizing, bloom_join.py:276-292)
        fps = fps.persist()
        persisted = True
        d = fps.agg(
            F.approx_count_distinct("__fp", 0.02).alias("d")
        ).first()["d"]
        # 1.05 margin absorbs the ±2% rsd: an estimate that runs low
        # would undersize m and raise the effective fpp
        n_hint = int(d * 1.05)
    try:
        n = max(int(n_hint), 16)
        if int(n_hint) == 0:
            # empty history: an empty filter rejects everything (the same
            # empty-build short-circuit as bloom_join, O26) — no Spark job
            return BloomSketch(n, fpp)
        return build_sketch(
            fps, lambda: BloomSketch(n, fpp), cols=["__fp"],
            checkpoint_dir=checkpoint_dir,
        ).sketch
    finally:
        if persisted:
            fps.unpersist()


def incremental_dedup(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fpp: float = 1e-4,
    history_filter=None,
    checkpoint_dir: str | None = None,
    report: IncrementalDedupReport | None = None,
) -> DataFrame:
    """Keep the rows of ``batch`` that are NEW: not an exact duplicate
    of any ``history`` document, and the first (min-``id_col``)
    occurrence of their content within the batch.

    The streaming-ingest counterpart of :func:`exact_dedup` — the shape
    every growing training corpus needs ("dedupe today's crawl against
    everything already ingested") and the one where a naive
    ``batch ⟕̸ history`` anti join is catastrophic at scale: Spark
    would shuffle the ENTIRE history side on every ingest.  Plan here:

    1. fingerprint both sides (md5 of lower/trim — same fingerprint as
       ``exact_dedup``, so the tiers compose);
    2. within-batch keep = min id per fingerprint (one shuffle of
       16-byte keys at |batch| scale), materialized once together with
       the report counters;
    3. with a history filter — ``history_filter`` built once via
       :func:`build_history_filter`, or built here when
       ``checkpoint_dir`` asks for a resumable build — probe the
       representatives against it.  Misses are DEFINITELY new (Bloom
       has no false negatives) and skip the join entirely; only hits
       (≈ true cross-dups + fpp·|batch| false positives) are
       candidates.  With neither, no history filter is built: every
       representative is a candidate;
    4. verify the candidates with an exact anti join issued through
       ``bloom_join(how="anti", force_prefilter=True)``: it builds its
       filter over the candidates (batch-sized) and prefilters the
       HISTORY side with it (``plans/planner.py`` anti → filter y), so
       history contributes ~|candidates ∩ history| rows to the verify
       shuffle instead of its full size.  In the in-call lane that is
       the call's only history scan.

    The in-call lane (no ``history_filter``, no ``checkpoint_dir``)
    builds its filter over the batch, so it assumes |batch| ≤ |history|
    — the ingest shape above.  For a batch much larger than its
    history, build the filter over the history with
    :func:`build_history_filter` and pass it as ``history_filter``.

    Cost at scale: with a reused filter, one history scan amortized over
    all future batches plus per-ingest work proportional to |batch| +
    |true duplicates|; in the in-call lane, one filtered history scan
    per ingest and no history-sized filter.
    """
    from .bloom_join import bloom_join

    fp_expr = content_fingerprint(text_col).alias("__fp")
    # within-batch: representative (min id) per distinct fingerprint,
    # carrying its group size so the batch row count needs no extra job
    reps = (
        batch.select(fp_expr, F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("__n"))
    )

    if history_filter is not None and report is not None:
        report.filter_provided = True

    filtered = history_filter is not None or checkpoint_dir is not None
    if filtered:
        if history_filter is None:
            history_filter = build_history_filter(
                history, text_col, fpp=fpp, checkpoint_dir=checkpoint_dir
            )
        # seal() densifies BEFORE the broadcast: an unsealed (sparse)
        # filter ships as its pooled hash list and every Python worker
        # re-densifies it on first probe — seconds per worker at 1M
        # history keys
        bc = batch.sparkSession.sparkContext.broadcast(history_filter.seal())

        @F.pandas_udf("boolean")
        def _probe(s: pd.Series) -> pd.Series:
            from ..hashing import hash_series

            return pd.Series(bc.value.contains_hashes(hash_series(s)))

        reps = reps.withColumn("__hit", _probe.asNondeterministic()(F.col("__fp")))
    else:
        reps = reps.withColumn("__hit", F.lit(True))

    # one materialization (batch-sized: one 16-byte fingerprint + id per
    # distinct batch doc) serves every consumer: the candidate branch
    # feeds the verify join, the miss branch feeds the union, and the
    # counters below re-aggregate it — without it each of those jobs
    # re-runs the groupBy + probe chain
    probed = reps.localCheckpoint(eager=False)
    # one job materializes the checkpoint AND yields every counter; the
    # exact candidate count is the verify join's n_hint, which skips
    # bloom_join's own sizing pass
    agg = probed.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.sum("__n").alias("n_batch"),
        F.count(F.when(F.col("__hit"), 1)).alias("n_cand"),
    ).first()
    n_cand = agg["n_cand"]
    cand = probed.filter(F.col("__hit")).drop("__hit", "__n")
    hfp = history.select(fp_expr)
    verified_new, jrep = bloom_join(
        cand, hfp, on="__fp", how="anti",
        fpp=fpp, force_prefilter=True, collect_metrics=False,
        n_hint={"x": max(n_cand, 16)}, return_report=True,
    )
    if report is not None:
        verified_new = verified_new.localCheckpoint(eager=False)
    new_ids = verified_new.select(id_col)
    if filtered:
        new_ids = probed.filter(~F.col("__hit")).select(id_col).unionByName(new_ids)
    out = batch.join(new_ids, on=id_col, how="left_semi")

    if report is not None:
        if filtered:
            report.engine = "bloom"
        else:
            report.engine = jrep.engine
            report.engine_fallback_reason = jrep.engine_fallback_reason
        n_batch = agg["n_batch"] or 0  # sum over an empty batch is null
        n_reps = agg["n_reps"]
        report.n_batch = n_batch
        report.n_within_dups = n_batch - n_reps
        report.n_candidates = n_cand
        report.n_cross_dups = n_cand - verified_new.count()
        report.n_definite_new = n_reps - n_cand
    return out
