"""One-call table profiling: per-column null counts, min/max, approx
distinct (HLL) and quantiles (t-digest) — the sketch suite applied
column-wise.

Two column-pruned scans, both distributed:

1. exact counters (rows, nulls, min, max) in ONE whole-stage-codegen
   aggregation — these are cheap JVM aggregates, not worth moving into
   Python;
2. ONE ``mapInArrow`` pass (``aggregate.partial_stage``: one partial
   per input partition; a cached input runs ⌈plan bytes / target⌉
   Python tasks) building an HLL per column and a t-digest
   per numeric column (shared per-batch arrays, canonical hash kernels
   from ``hashing`` — the same domains every other sketch consumer
   uses), whose partials ride the SAME ``MULTI_PARTIAL_SCHEMA`` tree
   merge as ``build_sketches`` (``aggregate.tree_merge`` keyed by
   ``name``): at 100k partitions × K columns the driver still only
   ever holds fanin-bounded blob sets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType

from ..aggregate import (
    MULTI_PARTIAL_SCHEMA,
    PartialRows,
    ingest,
    partial_stage,
    tree_merge,
)
from ..hashing import hash_numeric_array, hash_utf8_arrow
from ..sketches import HllSketch, TDigestSketch

__all__ = ["profile_table"]

_SEP = "\x1f"  # name = column SEP kind inside the shared partial rows


def _make_profile_partial_fn(cols: list[str], numeric: set[str], hll_p: int,
                             delta: int):
    names = [f"{c}{_SEP}{kind}" for c in cols
             for kind in ("hll", "td") if kind == "hll" or c in numeric]

    def make(name):
        return TDigestSketch(delta) if name.endswith(f"{_SEP}td") else HllSketch(hll_p)

    def fn(pid, it):
        acc = PartialRows(make, names)
        for batch in it:
            if batch.num_rows == 0:
                continue
            for idx, c in enumerate(cols):
                arr = batch.column(idx).drop_null()
                if len(arr) == 0:
                    continue
                # null_marks=False: a NaN is a distinct value here, as
                # in Spark's count(DISTINCT)
                if c in numeric:
                    # hash the RAW dtype (int64 beyond 2^53 must hash as
                    # exact integer bits — hashing.py:88-94); float64
                    # only for the t-digest value lane
                    raw = arr.to_numpy(zero_copy_only=False)
                    ingest(acc[f"{c}{_SEP}hll"], hash_numeric_array(raw), null_marks=False)
                    ingest(acc[f"{c}{_SEP}td"], raw.astype(np.float64, copy=False),
                           null_marks=False)
                else:
                    ingest(acc[f"{c}{_SEP}hll"], hash_utf8_arrow(arr), null_marks=False)
            for name in names:
                acc.add(name, batch.num_rows)
        yield from acc.rows(pid, "name")

    return fn


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    hll_p: int = 14,
    delta: int = 200,
    quantiles: tuple[float, ...] = (0.5, 0.99),
    fanin: int = 64,
) -> DataFrame:
    """Profile ``cols`` (default: all string/numeric columns) —
    returns a SMALL DataFrame, one row per column:

    ``column, n_rows, n_nulls, min_str, max_str, approx_distinct,
    p50, p99`` (quantile columns follow ``quantiles``; non-numeric
    columns carry NULL quantiles; min/max are stringified for a
    uniform schema).

    Estimates carry the usual bounds: HLL ±1.04/√2^p rel. std. error,
    t-digest rank error ~q(1−q)/δ.  The result is collected — it is
    K rows for K columns, never data-sized."""
    if cols is None:
        cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (NumericType, StringType))
        ]
    if not cols:
        raise ValueError("no string/numeric columns to profile")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")
    numeric = {
        f.name for f in df.schema.fields
        if f.name in cols and isinstance(f.dataType, NumericType)
    }
    spark = df.sparkSession

    # pass 1: exact counters, pure codegen
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__nulls_{c}"),
            # cast AFTER aggregating: numeric columns get their numeric
            # min/max (stringified), not the lexicographic min of strings
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    exact = df.agg(*aggs).first()

    # pass 2: sketches, one Arrow stage + shared tree merge
    build = _make_profile_partial_fn(cols, numeric, hll_p, delta)
    partials, n_parts = partial_stage(df, cols, build, MULTI_PARTIAL_SCHEMA)
    merged, _ = tree_merge(partials, fanin, n_parts, key="name")

    rows = []
    for c in cols:
        hll = merged.get(f"{c}{_SEP}hll")
        td = merged.get(f"{c}{_SEP}td")
        qvals = [None] * len(quantiles)
        if c in numeric and td is not None and td.sketch.count:
            qvals = [float(td.sketch.quantile(q)) for q in quantiles]
        rows.append(
            (
                c,
                int(exact["__n"]),
                int(exact[f"__nulls_{c}"] or 0),
                exact[f"__min_{c}"],
                exact[f"__max_{c}"],
                int(round(hll.sketch.estimate())) if hll is not None else 0,
                *qvals,
            )
        )
    qcols = ", ".join(
        "p{} double".format(f"{q * 100:g}".replace(".", "_")) for q in quantiles
    )
    schema = (
        "column string, n_rows bigint, n_nulls bigint, min_str string, "
        "max_str string, approx_distinct bigint, " + qcols
    )
    return spark.createDataFrame(rows, schema)
