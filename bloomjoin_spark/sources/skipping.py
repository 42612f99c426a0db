"""Per-file Bloom index: sketch-driven data skipping for point lookups.

``write_range_sorted`` (layout.py) gives min/max footer skipping for
RANGE predicates; this module covers the complementary case — an
EQUALITY / IN lookup on a high-cardinality key over files with no
useful ordering, where min/max stats prune nothing.  A per-file Bloom
filter, built with the package's own ``BloomSketch`` over the SAME
canonical key hashes the join path uses (one hash domain for lookups
and ``bloom_join``; the reference sizes its filter from n and fpp the
same way, ``R/bloomjoin.R:83-96``), is stored as a sidecar parquet
table under ``<path>/_bloom_index``; a lookup probes the index and
reads only the files that may contain the requested keys, then applies
the exact predicate — a Bloom false positive costs one extra file
scan, never a wrong row.

Scale shape (the reason this is a layout, not a cache):

- The index holds ONE row per data file.  At fpp=1e-3 the blob is
  ~1.8 bytes per data row — ~0.2 % of the data at 1 KB rows — so a
  100 TB table carries a ~200 GB index TABLE, which is why both the
  build and the probe stay distributed: per-file partials merge via
  ``applyInPandas`` (never collected), and the probe ships only the
  handful of lookup-key hashes to the executors, returning only the
  SURVIVING FILE NAMES to the driver — the same list the reader must
  hold to plan the scan anyway.
- With ``cluster=True`` (default) the write hash-partitions rows by
  the key first, so EVERY key lives in exactly one file and a point
  lookup reads 1 file out of N (pinned by
  ``tests/test_sources.py::test_bloom_index_skips_files``); without
  clustering the index still prunes every file whose filter misses.
- Parquet's column bloom filters / Iceberg's puffin blobs are the
  ecosystem versions of this sidecar; building it from the package's
  sketch keeps the hash domain shared and the filter mergeable, so
  the same blobs can seed a ``bloom_join`` prefilter without a
  rebuild.

Nulls: lookup values must be non-null — ``IN``-list semantics ignore
NULLs, and the exact post-filter would drop them anyway.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..aggregate import _per_group, grouped_sketch_partials
from ..hashing import (
    foreign_hash_format,
    hash_columns,
    hash_format_mismatch,
    stamp_hash_format,
)
from ..operators.bloom_join import _python_probe
from ..sketches.base import Sketch
from ..sketches.bloom import BloomSketch

__all__ = ["write_bloom_indexed", "read_bloom_indexed"]


def _data_dir(path: str) -> str:
    return path.rstrip("/") + "/data"


def _index_dir(path: str) -> str:
    return path.rstrip("/") + "/_bloom_index"


def write_bloom_indexed(
    df: DataFrame,
    path: str,
    key: str | list[str],
    fpp: float = 1e-3,
    num_files: int | None = None,
    cluster: bool = True,
    mode: str = "overwrite",
) -> dict:
    """Write ``df`` under ``<path>/data`` and build the per-file Bloom
    index over ``key`` at ``<path>/_bloom_index``.

    ``cluster=True`` hash-repartitions by the key before writing so a
    key's rows land in one file; ``num_files`` defaults to the session
    shuffle parallelism (size it so files land near 512 MB–1 GB at
    scale).  Filters are sized uniformly to the LARGEST file's exact
    row count (one footer-cheap counting pass), so every file meets
    ``fpp``.  Returns build stats: files, rows, capacity, bits per
    filter.
    """
    keys = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession
    if num_files is None:
        try:
            num_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except ValueError:  # vendor-managed value, e.g. "auto"
            num_files = spark.sparkContext.defaultParallelism
    out = df.repartition(num_files, *keys) if cluster else df.repartition(num_files)
    out.write.mode(mode).parquet(_data_dir(path))

    data = spark.read.parquet(_data_dir(path))
    # pass 1 — exact per-file row counts (no data columns: the scan
    # reads footers + row positions only) to size one uniform factory
    counts = (
        data.select(F.input_file_name().alias("_file"))
        .groupBy("_file")
        .count()
        .collect()  # one row per FILE — the listing the driver holds anyway
    )
    capacity = max((r["count"] for r in counts), default=1)
    total_rows = sum(r["count"] for r in counts)

    # pass 2 — grouped partials (one row per file × read-split) merged
    # per file, all executor-side; blobs never visit the driver
    back = data.select(*keys).withColumn("_file", F.input_file_name())
    partials = grouped_sketch_partials(
        back, lambda: BloomSketch(int(capacity), fpp), "_file", cols=keys
    )

    def _index_row(file, sk, n_rows):
        return pd.DataFrame(
            {"_file": [file], "n_rows": [n_rows], "blob": [sk.seal().to_bytes()]}
        )

    index = _per_group(partials, "_file", _index_row, "n_rows long, blob binary")
    index = stamp_hash_format(index.withColumnRenamed("_file", "file"))
    index.write.mode("overwrite").parquet(_index_dir(path))
    bits = BloomSketch(int(capacity), fpp).m
    return {
        "files": len(counts),
        "rows": int(total_rows),
        "capacity": int(capacity),
        "bits_per_filter": int(bits),
        "fpp": fpp,
        "keys": keys,
    }


def _exact_condition(keys: list[str], values: list):
    if len(keys) == 1:
        return F.col(keys[0]).isin(list(values))
    return reduce(
        or_,
        (
            reduce(and_, (F.col(k) == v for k, v in zip(keys, tup)))
            for tup in values
        ),
    )


def _index_hit(hashes, blobs: pd.Series) -> list[bool]:
    return [bool(Sketch.from_bytes(bytes(b)).contains_hashes(hashes).any()) for b in blobs]


def read_bloom_indexed(
    spark: SparkSession,
    path: str,
    key: str | list[str],
    values: list,
    skip_report: dict | None = None,
) -> DataFrame:
    """Point/IN lookup through the per-file Bloom index.

    Hashes ``values`` with the canonical key hash, probes every file's
    filter EXECUTOR-SIDE (a vectorized pandas UDF over the index
    table; only file names of possible hits return to the driver),
    reads the surviving files, and applies the exact predicate.
    Result rows are identical to filtering the full table — the index
    changes WHICH FILES are opened, never the answer.  Skip evidence
    lands in ``skip_report`` when given: ``files_total``,
    ``files_read`` and ``n_values``.

    ``values``: non-null scalars for a single-column key, tuples (in
    key order) for a composite key.
    """
    keys = [key] if isinstance(key, str) else list(key)
    vals = list(values)
    if skip_report is None:
        skip_report = {}
    skip_report.update(files_total=0, files_read=0, n_values=len(vals))
    if not vals:
        return spark.read.parquet(_data_dir(path)).filter(F.lit(False))

    if len(keys) == 1:
        probe = pd.DataFrame({keys[0]: vals})
    else:
        probe = pd.DataFrame(
            {k: [tup[i] for tup in vals] for i, k in enumerate(keys)}
        )
    any_hit = _python_probe(spark, hash_columns(probe, keys), _index_hit)
    index = spark.read.parquet(_index_dir(path))
    # one probe job: blobs stay executor-side, (file, hit, stamp) comes
    # back — file names are the listing the scan planner must hold anyway
    probed = index.select(
        "file", any_hit(F.col("blob")).alias("hit"), foreign_hash_format(index).alias("fmt")
    ).collect()
    why = hash_format_mismatch(f"Bloom index of {path!r}", (r["fmt"] for r in probed))
    if why:
        raise ValueError(
            f"{why}: its filters could skip files that hold the key. Rebuild "
            "the index (re-run write_bloom_indexed) under one version."
        )
    survivors = [r["file"] for r in probed if r["hit"]]
    skip_report.update(files_total=len(probed), files_read=len(survivors))
    # input_file_name() yields percent-ENCODED URIs; the reader wants
    # plain paths (a space in the table path would otherwise 404)
    from urllib.parse import unquote

    files = [unquote(f) for f in survivors] or [_data_dir(path)]
    out = spark.read.parquet(*files).filter(_exact_condition(keys, vals))
    return out if survivors else out.filter(F.lit(False))
