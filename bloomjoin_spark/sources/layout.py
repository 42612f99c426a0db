"""Physical storage layout: bucketed tables and partitioned writes.

The reference joins in-memory data.frames, so physical layout is not
its concern (``/root/reference/R/bloomjoin.R:126-129`` — inputs arrive
already materialized).  At 100 TB the layout *is* the join plan:

- Two fact tables **bucketed** on the same key with the same bucket
  count sort-merge-join with **no Exchange on either side** — the
  single biggest shuffle eliminator available to a recurring pipeline
  (pay the shuffle once at write time, never again at read time).
  ``write_bucketed`` + ``co_located_join`` make that layout
  reproducible and ``tests/test_sources.py`` plan-asserts the
  no-Exchange guarantee.
- A **partitioned** write turns a predicate on the partition column
  into directory-level pruning: a scan of one event type touches one
  directory, not the table.  ``write_partitioned`` + the
  ``PartitionFilters`` plan assertion pin that.

Both helpers are thin on purpose: the value is the *contract* (bucket
count parity, sorted buckets, partition column ordering) plus the plan
tests that notice when a Spark upgrade or a conf change silently
reintroduces the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "write_bucketed",
    "write_zordered",
    "zorder_col",
    "write_partitioned",
    "co_located_join",
]


def write_bucketed(
    df: DataFrame,
    table: str,
    by: str | list[str],
    buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Materialize ``df`` as a bucketed catalog table.

    Bucketing hash-partitions rows into ``buckets`` files per write
    task *at write time*; Spark's scan then reports the matching
    ``HashPartitioning``, so joins/aggregations on the bucket key skip
    their Exchange.  ``sort=True`` additionally sorts each bucket by
    the key (lets the sort-merge join skip its Sort when each bucket
    is a single file).

    Bucket-count choice at scale: buckets should be a divisor-friendly
    number sized so one bucket of the LARGER table fits an executor
    core's working memory (e.g. a 10 TB table at 512 MB per bucket
    target → ~20k buckets).  Two tables co-locate when their bucket
    counts are equal (Spark 3+ can also coalesce a multiple into the
    smaller count when ``spark.sql.bucketing.coalesceBucketsInJoin``
    is enabled).

    File-count contract: the write first hash-repartitions by the
    bucket keys into ``buckets`` partitions — the SAME ``pmod(hash,
    buckets)`` assignment bucketing itself uses — so every task holds
    exactly one bucket and writes exactly one file.  Without it every
    input task writes a file per bucket it touches (M·buckets files —
    the guide-§6 small-file explosion: a 64-partition input at 32
    buckets produced 2 049 files where 32 suffice, and every later
    scan pays the listing + per-file open cost).  The repartition IS
    the pay-once layout shuffle this helper exists to amortize.
    """
    from pyspark.sql import functions as F

    keys = [by] if isinstance(by, str) else list(by)
    if mode == "overwrite":
        _drop_stale_managed_table(df.sparkSession, table)
    out = df.repartition(buckets, *[F.col(k) for k in keys])
    w = out.write.format(fmt).mode(mode).bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def _drop_stale_managed_table(spark: SparkSession, table: str) -> None:
    """Make ``mode='overwrite'`` idempotent ACROSS sessions: with a
    session-local metastore (the default derby setup) a previous
    session's managed table leaves its warehouse directory behind with
    no catalog entry, and ``saveAsTable`` then fails with
    LOCATION_ALREADY_EXISTS.  Drop any registered table first (which
    also removes its managed location), then clear an orphaned
    location if one lingers.  Only unqualified names in the current
    database are handled — qualified names keep Spark's own behavior."""
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    if "." in table:
        return
    wh = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(wh.rstrip("/") + "/" + table.lower())
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def write_partitioned(
    df: DataFrame,
    path: str,
    by: str | list[str],
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Materialize ``df`` under ``path`` partitioned by ``by``.

    Each distinct value of the partition column(s) becomes a
    directory; a reader's equality/IN predicate on that column prunes
    at the directory level (visible as ``PartitionFilters`` in the
    scan node, asserted in ``tests/test_sources.py``).  Partition by
    LOW-cardinality operational columns (date, source, language) —
    high-cardinality partitioning explodes file counts and kills
    listing; use bucketing for join keys instead.
    """
    keys = [by] if isinstance(by, str) else list(by)
    df.write.format(fmt).mode(mode).partitionBy(*keys).save(path)


def co_located_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key.

    With both tables written via ``write_bucketed(..., by=on,
    buckets=N)`` for the same N, the resulting plan has no Exchange on
    either input (pinned by ``test_bucketed_join_has_no_exchange``).
    The join itself is a plain DataFrame join — Catalyst recognizes
    the bucket layout from the catalog; nothing here forces a
    strategy, so AQE/broadcast still apply when genuinely better.
    """
    left = spark.read.table(left_table)
    right = spark.read.table(right_table)
    keys = [on] if isinstance(on, str) else list(on)
    return left.join(right, on=keys, how=how)


def write_range_sorted(
    df: DataFrame,
    path: str,
    by: str | list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Materialize ``df`` globally range-sorted on ``by`` — the
    min/max data-skipping layout for RANGE predicates.

    ``repartitionByRange`` (sampled range boundaries, one shuffle) +
    ``sortWithinPartitions`` yields files whose per-column min/max
    stats are **non-overlapping ranges** (pinned by
    ``test_write_range_sorted_files_do_not_overlap`` reading the
    parquet footers), so a ``BETWEEN`` / ``>=`` predicate skips every
    file — and every row group inside a file — outside the range.
    That skipping happens in the parquet reader from the footer stats
    alone, below the plan level: on a 100 TB event table sorted by
    timestamp, a one-day query touches ~1/365 of the files without
    any partition directories.

    Use this for high-cardinality ordered columns (timestamps, ids)
    where ``write_partitioned`` would explode into millions of tiny
    directories; cardinality-bounded categorical predicates still
    belong to partitions, join keys to buckets.

    ``num_files`` defaults to the session's shuffle parallelism; size
    it so files land near the target file size (~512 MB–1 GB at
    scale).  Rows compare by the concatenation order of ``by``.
    """
    keys = [by] if isinstance(by, str) else list(by)
    if num_files is not None:
        out = df.repartitionByRange(num_files, *keys)
    else:
        out = df.repartitionByRange(*keys)
    out.sortWithinPartitions(*keys).write.format(fmt).mode(mode).save(path)


def zorder_col(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    relative_error: float = 0.001,
):
    """Build the interleaved-bit z-value Column for ``cols`` — the
    multi-dimensional ordering key behind :func:`write_zordered`.

    Each column is ranked into ``2**bits`` QUANTILE buckets (boundaries
    from one ``approxQuantile`` pass, so skewed distributions still
    spread evenly across buckets — a linear min/max scale would
    collapse a heavy-tailed column into one bucket), then the per-bit
    interleave ``z = Σ_b Σ_i bit_b(rank_i) << (b·k + i)`` is emitted
    as pure codegen shift/or arithmetic.  The rank itself is
    ``array_size(filter(lit(bounds), x -> x <= col))`` — a
    searchsorted over a ≤255-element literal array, JVM-side, no
    Python in the row path.  NULLs rank 0 (cluster together in the
    lowest files).

    Numeric and timestamp columns only (timestamps rank on epoch
    micros); ``bits·len(cols)`` must fit a signed long.
    """
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("cols must be non-empty")
    if bits < 1 or bits * len(cols) > 62:
        raise ValueError(
            f"bits*len(cols) must be in [1, 62], got {bits}*{len(cols)}"
        )
    dtypes = dict(df.dtypes)
    # 2**bits buckets need 2**bits - 1 cutoffs; ranks 0..2**bits-1
    # fill the `bits` bit planes exactly (an off-by-one here would
    # leave bits=1 with ZERO cutoffs and a constant rank)
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    num_exprs = []
    for c in cols:
        dt = dtypes.get(c)
        if dt is None:
            raise ValueError(f"column {c!r} not in DataFrame")
        if dt == "timestamp_ntz":
            num = F.expr(
                "timestampdiff(MICROSECOND, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{c}`)"
            ).cast("double")
        elif dt == "timestamp":
            num = F.unix_micros(F.col(c)).cast("double")
        elif dt in ("string", "binary", "boolean") or dt.startswith(
            ("array", "map", "struct")
        ):
            raise ValueError(
                f"zorder_col supports numeric/timestamp columns; {c!r} is {dt}"
            )
        else:
            num = F.col(c).cast("double")
        num_exprs.append(num)
    # ONE boundary pass for all columns (approxQuantile takes a column
    # list) — the docstring's "one approxQuantile pass" promise; at
    # corpus scale a per-column loop would be len(cols) full scans
    tmps = [f"__zq_{i}" for i in range(len(cols))]
    all_bounds = df.select(
        *(num.alias(t) for num, t in zip(num_exprs, tmps))
    ).approxQuantile(tmps, probs, relative_error)
    rank_exprs = []
    for num, raw_bounds in zip(num_exprs, all_bounds):
        bounds = sorted(set(raw_bounds))
        rank = F.coalesce(
            F.array_size(
                F.filter(
                    F.lit(bounds).cast("array<double>"),
                    lambda b: b <= num,  # noqa: B023
                )
            ),
            F.lit(0),
        ).cast("long")
        # LEFT-ALIGN the rank inside its `bits` bit planes: a low-
        # cardinality column dedupes to fewer boundaries, and without
        # the shift its top planes would be constant zero — the other
        # columns would own every file-splitting bit and the layout
        # would degenerate to a 1-column sort.
        bits_used = max(1, (len(bounds)).bit_length())
        if bits_used < bits:
            rank = F.shiftleft(rank, bits - bits_used)
        rank_exprs.append(rank)

    k = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, rank in enumerate(rank_exprs):
            bit = F.shiftright(rank, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + i))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
    bits: int = 8,
) -> None:
    """Materialize ``df`` z-ordered on ``cols`` — min/max data
    skipping for predicates on ANY of several columns at once.

    ``write_range_sorted`` gives one column perfect non-overlapping
    file ranges but leaves every OTHER column's per-file range at the
    full domain.  Interleaving the bit-planes of per-column quantile
    ranks (Morton order) makes file locality multi-dimensional: with
    F files and k columns each file's footer min/max covers roughly a
    ``F^(-1/k)`` fraction of each column's domain, so a selective
    predicate on any single z column — or a conjunction — skips most
    files from the footer stats alone, below the plan level.  The
    pinned contract (``test_write_zordered_skips_on_both_columns``)
    is that BOTH columns' average per-file range fraction beats the
    1-column sort's losing column by a wide margin, and read-back
    values are unchanged.

    Same write shape as ``write_range_sorted``: one boundary-sampling
    pass, one ``repartitionByRange`` shuffle on the z-value, sorted
    files.  Use it for event tables queried by user AND by time, or
    geo tables by lat AND lon.
    """
    z = zorder_col(df, cols, bits=bits)
    tagged = df.withColumn("__zval", z)
    if num_files is not None:
        out = tagged.repartitionByRange(num_files, "__zval")
    else:
        out = tagged.repartitionByRange("__zval")
    (
        out.sortWithinPartitions("__zval")
        .drop("__zval")
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )
