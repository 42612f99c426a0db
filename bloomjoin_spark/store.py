"""Persistent sketch store: append-only per-snapshot sketch partials.

The 100 TB monitoring problem: distinct-doc / frequency / quantile
estimates over an ever-GROWING corpus must not rescan history on every
refresh.  The store keeps the corpus as KB-scale mergeable sketch
blobs, partitioned by ingest snapshot: each ingest scans ONLY its new
rows and appends one partial row per (group, input partition); reading
an estimate merges blobs (associative + commutative, any order — the
same merge contract every sketch in this suite is property-tested
under), never raw data.  A year of daily ingests over 100 TB is a few
MB of parquet, and "distinct doc_ids per source, ever" is a
blob-only aggregation.

This is the reference's two-phase build (`src/bloom_interface.cpp`
partial→merge) made durable: the stored rows ARE the per-partition
lineage the north rule asks for — (snapshot, partition_id,
fingerprint) identifies exactly what was ingested, and a killed or
re-run ingest replaces ONLY its own snapshot partition (dynamic
partition overwrite), so retries are idempotent and history is never
touched.

Hash-format safety: every row is stamped with ``hashing.HASH_FORMAT``
(``hashing.stamp_hash_format``, the stamp checkpoints and Bloom indexes
carry too).  The first action that reads a row of another hash domain,
or one without a stamp, fails inside its own scan instead of merging it
(mixed domains silently corrupt HLL / Bloom membership); being per-row,
the stamp survives partial appends from mixed library versions.
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregate import (
    MULTI_PARTIAL_SCHEMA,
    _PARTIAL_COLS,
    _estimates,
    _per_group,
    grouped_sketch_partials,
    make_multi_partial_fn_arrow,
    partial_stage,
    sketch_partials,
    tree_merge,
)
from .hashing import refuse_foreign_hash_format, stamp_hash_format
from .plans.sizing import size
from .sketches import Sketch


def append_sketch_snapshot(
    df: DataFrame,
    factory: Callable[[], Sketch] | Mapping[str, Callable[[], Sketch]],
    path: str,
    snapshot: str,
    group_col: str | None = None,
    cols: list[str] | str | None = None,
    token_col: str | None = None,
) -> None:
    """Scan ``df`` (the NEW rows only — never re-feed history) into
    sketch partials and write them under ``path`` as the ``snapshot``
    partition.  One partial row per (group,) input partition; with no
    ``group_col`` the store is global.  A cached ``df`` builds its
    partials in fewer Python tasks (``aggregate.partial_stage``): there
    an input partition without rows writes no row, and a task that saw
    no rows writes one empty partial with a negative ``partition_id``
    and ``n_partials`` 0, so an ungrouped ingest always writes a row.

    Idempotent per snapshot: dynamic partition overwrite replaces only
    ``snapshot=<snapshot>``, so a killed ingest is safely re-run and a
    corrected ingest is safely re-written, without touching any other
    snapshot's rows.  Keep the group column consistent across a
    store's snapshots: the reader merges schemas, so a divergent
    snapshot shows up as nulls in the other snapshots' group column
    rather than corrupting anything, but per-group estimates would
    then silently place the divergent rows in a null group.

    ``factory`` may be a ``{name: factory}`` dict over a ``token_col``
    ingest (the one-scan-many-sketches shape of ``build_sketches``):
    ONE pass over the new rows lands every monitoring sketch's partials
    at once, tagged by ``name``; read per-sketch results with
    ``store_estimates(store, "name")`` or
    ``store_sketch(store.where(F.col("name") == ...))``."""
    if isinstance(factory, Mapping):
        if group_col is not None or token_col is None:
            raise ValueError(
                "append_sketch_snapshot: a factory dict is the one-scan "
                "multi-sketch ingest over token_col — group_col is not "
                "supported with it and token_col is required"
            )
        build = make_multi_partial_fn_arrow(dict(factory), token_col)
        partials, _ = partial_stage(df, [token_col], build, MULTI_PARTIAL_SCHEMA)
    elif group_col is None:
        partials = sketch_partials(df, factory, cols, token_col)
    else:
        partials = grouped_sketch_partials(df, factory, group_col, cols, token_col)
    out = stamp_hash_format(partials.withColumn("snapshot", F.lit(snapshot)))
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("snapshot")
        .parquet(path)
    )


def read_sketch_store(
    spark: SparkSession, path: str, snapshots: list[str] | None = None
) -> DataFrame:
    """Load store partials, refusing mixed or foreign hash domains.

    Reads with ``mergeSchema`` so a store whose snapshots were written
    with different group columns surfaces every column (missing ones
    null) instead of silently adopting one file's schema; the required
    partial payload columns are checked (``ValueError``).  The hash-format
    guard runs no job: any action over a foreign or unstamped row raises
    ``SparkRuntimeException`` [USER_RAISED_EXCEPTION]; ``snapshots``
    prunes before it, so excluding a foreign snapshot reads fine."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    # the full PARTIAL_SCHEMA payload: store_sketch and store_estimates
    # select all of it and every merge folds it — a dir missing
    # n_partials/fingerprint must fail HERE with the curated error, not
    # later with UNRESOLVED_COLUMN
    missing = {*_PARTIAL_COLS, "snapshot"} - set(df.columns)
    if missing:
        raise ValueError(
            f"sketch store {path!r} is missing required column(s) "
            f"{sorted(missing)} — not a store written by "
            "append_sketch_snapshot"
        )
    if snapshots is not None:
        df = df.where(F.col("snapshot").isin(list(snapshots)))
    return refuse_foreign_hash_format(
        df, f"sketch store {path!r}",
        ": merging mixed domains would silently corrupt estimates. Rebuild the "
        "store (re-run append_sketch_snapshot per snapshot) under one version.",
    )


def store_estimates(
    store: DataFrame,
    group_col: str,
    extract: Callable[[Sketch], float] | None = None,
) -> DataFrame:
    """Per-group estimates from stored blobs only: one shuffle of the
    KB-scale partials, the tree merge's fold per group (as
    ``grouped_sketch_estimates`` over fresh partials) — history is never
    rescanned and per-group sketches never reach the driver (group
    cardinality may be millions at 100 TB).  Output: (group_col,
    estimate, n_rows) with n_rows the exact ingested total across
    snapshots; the estimate is null without ``extract``, ``estimate()``
    or ``total``."""
    partials = store.select(group_col, *_PARTIAL_COLS)
    return _per_group(partials, group_col, *_estimates(group_col, extract))


def sketch_store_sink(
    stream: DataFrame,
    factory: Callable[[], Sketch],
    path: str,
    group_col: str | None = None,
    cols: list[str] | str | None = None,
    token_col: str | None = None,
    snapshot_prefix: str = "batch",
):
    """``writeStream`` (ready to ``.start()``) that ingests a stream
    into a sketch store: every micro-batch appends its partials as
    snapshot ``<prefix><batch_id>``.

    ``foreachBatch`` is only at-least-once — after a restart from the
    streaming checkpoint, Spark may REPLAY the last batch.  Because a
    replayed batch carries the same ``batch_id`` and the store's write
    replaces exactly its own snapshot partition, the replay rewrites
    rather than double-counts: the store holds exactly-once sketch
    state without any driver-side dedup bookkeeping (the usual
    idempotent-sink recipe, expressed in partition layout).  Unlike
    ``StreamingSketchCollector`` the state is durable and never lives
    on the driver; read it any time with ``read_sketch_store`` +
    ``store_estimates`` — including from a different process while the
    stream runs."""
    fn = _store_batch_fn(factory, path, group_col, cols, token_col, snapshot_prefix)
    return stream.writeStream.foreachBatch(fn).outputMode("append")


def _store_batch_fn(factory, path, group_col, cols, token_col, prefix):
    # separate so tests can drive the batch function with static frames
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        append_sketch_snapshot(
            batch_df,
            factory,
            path,
            f"{prefix}{int(batch_id):012d}",
            group_col=group_col,
            cols=cols,
            token_col=token_col,
        )

    return _process


def store_sketch(store: DataFrame, fanin: int = 64) -> Sketch:
    """Merge an (ungrouped) store into one Sketch via the distributed
    tree merge — same fan-in-bounded reduction as ``build_sketch``, so
    a store of any size merges without a driver-side fan-in.

    The merge is planned from the store's row bound (``plans.size``:
    local parquet footers, no job), since many partial rows can share
    one file.  Where the bound is unknown (a store off the local file
    system), the merge plans from the read's partition count, which
    can fold more than ``fanin`` blobs on the driver."""
    partials = store.select(*_PARTIAL_COLS)
    return tree_merge(partials, fanin, size(partials).rows_max)[0][None].sketch
