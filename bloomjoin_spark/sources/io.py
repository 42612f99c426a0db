"""Table sources.

The reference takes in-memory data.frames (no scans exist there —
`/root/reference/R/bloomjoin.R:126-129`); at Spark scale the input is a
catalog table (the north rule names Iceberg) or a parquet path. This
module is the single entry point so every operator gets the same
behavior:

- **catalog names** (``catalog.db.table``) go through
  ``spark.read.table`` — with an Iceberg catalog configured this gives
  snapshot isolation, partition pruning, and metadata-only planning;
  nothing else in the engine needs to know the format.
- **paths** are read as parquet (or an explicit ``fmt``). The sandbox
  test data is parquet; the DataFrame that comes back is
  indistinguishable downstream.

Column pruning stays intact either way: callers `.select(...)` before
any mapInArrow/mapInPandas stage, so the scan's ``ReadSchema`` carries
only the needed columns (verified in docs/PLANS.md).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TEST_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def read_table(spark: SparkSession, ref: str, fmt: str | None = None) -> DataFrame:
    """Read a table by catalog name or path (Iceberg-ready entry point)."""
    if fmt is not None:
        return spark.read.format(fmt).load(ref)
    if "://" in ref or ref.startswith("/") or ref.endswith(".parquet"):
        return spark.read.parquet(ref)
    return spark.read.table(ref)


def iceberg_session_conf(
    catalog: str = "ice",
    warehouse: str = "/tmp/iceberg-warehouse",
    catalog_impl: str = "org.apache.iceberg.spark.SparkCatalog",
    catalog_type: str = "hadoop",
) -> dict[str, str]:
    """SparkSession conf entries that register an Iceberg catalog, so a
    production job can do ``for k, v in iceberg_session_conf().items():
    builder.config(k, v)`` and read tables as ``ice.db.tbl`` through
    ``read_table``.  Requires the ``iceberg-spark-runtime`` jar on the
    cluster (NOT present in this sandbox — a full offline filesystem /
    ivy / maven-cache sweep in round 4 confirmed no vendorable copy
    exists, so the jar-gated integration test ``tests/test_iceberg.py``
    stays skip-marked and runs wherever a jar is provided.  The
    catalog-NAME path is integration-tested here against Spark's
    built-in ``spark_catalog`` instead, which exercises the identical
    ``spark.read.table`` code path; the Iceberg-specific part is
    configuration, not engine code)."""
    return {
        f"spark.sql.catalog.{catalog}": catalog_impl,
        f"spark.sql.catalog.{catalog}.type": catalog_type,
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All test tables of a scale-factor directory, keyed by name."""
    return {
        t: read_table(spark, os.path.join(sf_dir, f"{t}.parquet"))
        for t in TEST_TABLES
    }
