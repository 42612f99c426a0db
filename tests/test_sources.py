"""Source-layer tests: catalog-or-path entry point (SURVEY §1.3 —
reference has no scans; the Spark engine's inputs are tables/paths)."""

import pytest

from conftest import SF_DIR, n_exchanges


def test_read_table_path(spark):
    from bloomjoin_spark.sources import read_table

    df = read_table(spark, f"{SF_DIR}/lineitem.parquet")
    assert df.count() > 0
    assert "l_orderkey" in df.columns


def test_tables_dict(spark):
    from bloomjoin_spark.sources import tables

    t = tables(spark, SF_DIR)
    assert set(t) >= {"lineitem", "documents", "embeddings"}
    assert t["documents"].count() > 0


def test_read_table_catalog_name(spark, tmp_path):
    """The catalog-NAME path (the one an Iceberg catalog would use):
    saveAsTable into the session catalog, read back via read_table by
    name — same spark.read.table code path as ice.db.tbl."""
    from bloomjoin_spark.sources import read_table

    df = spark.range(0, 100).withColumnRenamed("id", "k")
    df.write.mode("overwrite").saveAsTable("bj_cat_test")
    try:
        got = read_table(spark, "bj_cat_test")
        assert got.count() == 100
        assert got.columns == ["k"]
    finally:
        spark.sql("DROP TABLE IF EXISTS bj_cat_test")


def test_iceberg_session_conf_shape():
    from bloomjoin_spark.sources import iceberg_session_conf

    conf = iceberg_session_conf(catalog="ice", warehouse="/tmp/wh")
    assert conf["spark.sql.catalog.ice"].endswith("SparkCatalog")
    assert conf["spark.sql.catalog.ice.warehouse"] == "/tmp/wh"
    assert "Extensions" in conf["spark.sql.extensions"]


def test_write_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the same key with the same bucket count
    join with zero Exchange operators — the layout contract that makes
    recurring 100 TB joins pay their shuffle once, at write time."""
    from pyspark.sql import functions as F

    from bloomjoin_spark.sources import (
        co_located_join,
        read_table,
        write_bucketed,
    )

    cust = read_table(spark, f"{SF_DIR}/customer.parquet")
    orders = read_table(spark, f"{SF_DIR}/orders.parquet")
    write_bucketed(cust, "bj_cust_b", by="c_custkey", buckets=4)
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        "bj_ord_b", by="c_custkey", buckets=4,
    )
    try:
        # force SMJ so the test can't pass via a broadcast that hides
        # the missing co-location
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = co_located_join(spark, "bj_cust_b", "bj_ord_b",
                                 on="c_custkey")
        assert n_exchanges(joined) == 0
        # and the values are the plain-join values
        naive = cust.join(
            orders, cust.c_custkey == orders.o_custkey, "inner")
        assert joined.count() == naive.count()
        # the same join WITHOUT bucketing needs two exchanges
        unbucketed = cust.join(
            orders.withColumnRenamed("o_custkey", "c_custkey"),
            on="c_custkey")
        assert n_exchanges(unbucketed) >= 2
        # aggregation on the bucket key also skips its exchange
        agg = spark.read.table("bj_ord_b").groupBy("c_custkey").agg(
            F.count("*").alias("n"))
        assert n_exchanges(agg) == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bj_cust_b")
        spark.sql("DROP TABLE IF EXISTS bj_ord_b")


def test_write_partitioned_scan_is_pruned(spark, tmp_path):
    """An equality predicate on the partition column reaches the scan
    as a PartitionFilter (directory-level pruning), and the pruned
    read returns exactly the matching rows."""
    from bloomjoin_spark.sources import read_table, write_partitioned

    ev = read_table(spark, f"{SF_DIR}/events.parquet")
    path = str(tmp_path / "events_by_type")
    write_partitioned(ev, path, by="event_type")

    got = spark.read.parquet(path).filter("event_type = 'click'")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the partition filter line actually carries the predicate
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_type" in pf_line
    assert got.count() == ev.filter("event_type = 'click'").count()


def test_write_bucketed_overwrite_recovers_orphan_location(spark):
    """Cross-session idempotency: a session-local metastore forgets the
    table but leaves its managed warehouse directory; overwrite mode
    must clear the orphan instead of failing LOCATION_ALREADY_EXISTS."""
    import os

    from bloomjoin_spark.sources import write_bucketed

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    orphan = os.path.join(wh, "bj_orphan_t")
    spark.sql("DROP TABLE IF EXISTS bj_orphan_t")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "stale.parquet"), "w") as f:
        f.write("not a real file")
    try:
        df = spark.range(0, 50).withColumnRenamed("id", "k")
        write_bucketed(df, "bj_orphan_t", by="k", buckets=2)
        assert spark.read.table("bj_orphan_t").count() == 50
        # second overwrite (registered-table path) also succeeds
        write_bucketed(df, "bj_orphan_t", by="k", buckets=2)
        assert spark.read.table("bj_orphan_t").count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS bj_orphan_t")


def test_write_range_sorted_files_do_not_overlap(spark, tmp_path):
    """Range-sorted layout contract: parquet footer min/max stats of
    the sort column form non-overlapping ranges across files, so a
    range predicate skips every out-of-range file from the footer
    alone — and the read-back values are unchanged."""
    import pyarrow.parquet as pq

    from bloomjoin_spark.sources import read_table, write_range_sorted

    ev = read_table(spark, f"{SF_DIR}/events.parquet")
    path = str(tmp_path / "events_by_user")
    write_range_sorted(ev, path, by="user_id", num_files=4)

    ranges = []
    for fname in sorted((tmp_path / "events_by_user").glob("*.parquet")):
        md = pq.ParquetFile(str(fname)).metadata
        idx = next(i for i in range(md.num_columns)
                   if md.row_group(0).column(i).path_in_schema == "user_id")
        lo = min(md.row_group(g).column(idx).statistics.min
                 for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max
                 for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) >= 2  # range partitioning actually split
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, f"overlapping file ranges: {ranges}"
    # values survive the rewrite, and a range read matches the source
    got = spark.read.parquet(path).filter("user_id BETWEEN 100 AND 200")
    want = ev.filter("user_id BETWEEN 100 AND 200")
    assert got.count() == want.count()
    assert spark.read.parquet(path).count() == ev.count()


def test_bloom_index_skips_files(spark, tmp_path):
    """Per-file Bloom index (sources/skipping.py): a point lookup on
    the indexed key opens a strict subset of files — with cluster=True
    one key lives in exactly one file — and the result is row-identical
    to filtering the full table (false positives only widen the scan)."""
    from bloomjoin_spark.sources import read_bloom_indexed, write_bloom_indexed

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "n_chars")
    path = str(tmp_path / "docs_indexed")
    stats = write_bloom_indexed(docs, path, key="doc_id", num_files=8)
    assert stats["files"] >= 2
    assert stats["rows"] == docs.count()

    some = [r["doc_id"] for r in docs.limit(3).collect()]
    st = {}
    got = read_bloom_indexed(spark, path, "doc_id", some, skip_report=st)
    want = docs.filter(docs.doc_id.isin(some))
    assert sorted(r["doc_id"] for r in got.collect()) == \
        sorted(r["doc_id"] for r in want.collect())
    assert st["files_total"] == stats["files"]
    # 3 clustered keys touch at most 3 files (+ tiny fpp slack)
    assert st["files_read"] <= 3


def test_bloom_index_miss_reads_nothing(spark, tmp_path):
    """Absent keys prune every file; the lookup is still a valid empty
    frame with the data schema."""
    from bloomjoin_spark.sources import read_bloom_indexed, write_bloom_indexed

    df = spark.range(0, 2000).selectExpr(
        "concat('k', id) AS k", "id AS v")
    path = str(tmp_path / "kv_indexed")
    write_bloom_indexed(df, path, key="k", num_files=4)

    st = {}
    got = read_bloom_indexed(spark, path, "k", ["absent-a", "absent-b"], skip_report=st)
    assert got.count() == 0
    assert got.columns == ["k", "v"]
    assert st["files_read"] == 0

    # empty lookup list: empty result, no probe work
    assert read_bloom_indexed(spark, path, "k", []).count() == 0


def test_bloom_index_skip_report_per_call(spark, tmp_path):
    """Lookups from concurrent driver threads each fill their own
    ``skip_report`` (a process-wide stats global once raced here)."""
    from concurrent.futures import ThreadPoolExecutor

    from bloomjoin_spark.sources import read_bloom_indexed, write_bloom_indexed

    df = spark.range(0, 400).selectExpr("concat('k', id) AS k", "id AS v")
    path = str(tmp_path / "kv_threads")
    write_bloom_indexed(df, path, key="k", num_files=4)

    def lookup(n):
        rep = {}
        got = read_bloom_indexed(spark, path, "k", [f"k{i}" for i in range(n)], skip_report=rep)
        return n, got.count(), rep

    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(lookup, [1, 2, 3, 4, 5, 6], timeout=300))
    assert len(results) == 6
    for n, rows, rep in results:
        assert rows == n
        assert rep["n_values"] == n and rep["files_total"] == 4
        assert rep["files_read"] <= min(n, 4)


def test_bloom_index_composite_key_and_fp_safety(spark, tmp_path):
    """Composite keys share the canonical row-hash domain, and a
    deliberately tiny filter (capacity pressure via fpp=0.3) may open
    extra files but never returns a wrong row."""
    from bloomjoin_spark.sources import read_bloom_indexed, write_bloom_indexed

    df = spark.range(0, 1000).selectExpr(
        "cast(id % 13 AS int) AS a", "concat('s', id % 7) AS b",
        "id AS payload")
    path = str(tmp_path / "comp_indexed")
    write_bloom_indexed(df, path, key=["a", "b"], fpp=0.3, num_files=4)

    keys = [(3, "s2"), (12, "s0")]
    got = read_bloom_indexed(spark, path, ["a", "b"], keys).collect()
    want = df.filter("(a = 3 AND b = 's2') OR (a = 12 AND b = 's0')").collect()
    assert sorted(r["payload"] for r in got) == \
        sorted(r["payload"] for r in want)


def test_bloom_index_path_with_space(spark, tmp_path):
    """input_file_name() returns percent-encoded URIs; the lookup must
    decode them before re-reading or any escapable char in the table
    path 404s."""
    from bloomjoin_spark.sources import read_bloom_indexed, write_bloom_indexed

    df = spark.range(0, 300).selectExpr("concat('k', id) AS k", "id AS v")
    path = str(tmp_path / "dir with space" / "idx")
    write_bloom_indexed(df, path, key="k", num_files=3)
    got = read_bloom_indexed(spark, path, "k", ["k7", "k200"]).collect()
    assert sorted(r["v"] for r in got) == [7, 200]


def test_bloom_index_rows_carry_the_hash_format_stamp(spark, tmp_path):
    """A current index is probed in one job, so a lookup plus its
    ``collect()`` runs 2 jobs, and every index row reads as current."""
    from bloomjoin_spark.hashing import foreign_hash_format
    from bloomjoin_spark.sources import read_bloom_indexed, write_bloom_indexed
    from bloomjoin_spark.sources.skipping import _index_dir
    from conftest import tagged_jobs

    df = spark.range(0, 600).selectExpr("concat('k', id) AS k", "id AS v")
    path = str(tmp_path / "kv_stamped")
    write_bloom_indexed(df, path, key="k", num_files=3)
    index = spark.read.parquet(_index_dir(path))
    assert {r[0] for r in index.select(foreign_hash_format(index)).collect()} == {None}
    got, n_jobs = tagged_jobs(
        spark, lambda: read_bloom_indexed(spark, path, "k", ["k7", "k500"]).collect())
    assert sorted(r["v"] for r in got) == [7, 500]
    assert n_jobs == 2


@pytest.mark.parametrize("stamp", ["foreign", "unstamped"])
def test_bloom_index_of_another_hash_format_is_refused(spark, tmp_path, stamp):
    """An index whose rows carry another hash format, or no stamp, could
    skip files that hold the key: the lookup raises the curated error
    from its probe, before it opens a data file (the data dir is gone)."""
    import shutil

    from pyspark.sql import functions as F

    from bloomjoin_spark.sources import read_bloom_indexed, write_bloom_indexed
    from bloomjoin_spark.sources.skipping import _data_dir, _index_dir

    df = spark.range(0, 300).selectExpr("concat('k', id) AS k", "id AS v")
    path = str(tmp_path / "kv_old")
    write_bloom_indexed(df, path, key="k", num_files=3)
    rows = spark.read.parquet(_index_dir(path))
    rows = spark.createDataFrame(rows.collect(), rows.schema)
    if stamp == "foreign":
        rows, shown = rows.withColumn("hash_format", F.lit(1)), r"\[1\]"
    else:
        rows, shown = rows.drop("hash_format"), r"\[None\]"
    rows.write.mode("overwrite").parquet(_index_dir(path))
    shutil.rmtree(_data_dir(path))
    with pytest.raises(ValueError, match=rf"hash format\(s\) {shown}.*Rebuild the index"):
        read_bloom_indexed(spark, path, "k", ["k7"])


def test_write_zordered_skips_on_both_columns(spark, tmp_path):
    """Z-order layout contract: per-file footer min/max ranges are
    NARROW on BOTH z columns (multi-dimensional skipping), where the
    1-column range sort leaves its losing column at the full domain —
    and the rewrite changes no values."""
    import pyarrow.parquet as pq

    from bloomjoin_spark.sources import write_range_sorted, write_zordered

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    zp = str(tmp_path / "ev_z")
    rp = str(tmp_path / "ev_r")
    write_zordered(ev, zp, ["user_id", "ts"], num_files=16)
    write_range_sorted(ev, rp, by="user_id", num_files=16)

    def avg_range_frac(path, col):
        los, his = [], []
        for fname in sorted((tmp_path / path).glob("*.parquet")):
            md = pq.ParquetFile(str(fname)).metadata
            idx = next(i for i in range(md.num_columns)
                       if md.row_group(0).column(i).path_in_schema == col)
            los.append(min(md.row_group(g).column(idx).statistics.min
                           for g in range(md.num_row_groups)))
            his.append(max(md.row_group(g).column(idx).statistics.max
                           for g in range(md.num_row_groups)))
        width = max(his) - min(los)
        fracs = [(h - l) / width for l, h in zip(los, his)]
        return sum(fracs) / len(fracs)

    z_user, z_ts = avg_range_frac("ev_z", "user_id"), avg_range_frac("ev_z", "ts")
    r_ts = avg_range_frac("ev_r", "ts")
    assert z_user < 0.75 and z_ts < 0.75, (z_user, z_ts)
    assert r_ts > 0.9  # the 1-col sort's losing column: full domain
    # both beat the losing column by a wide margin
    assert max(z_user, z_ts) < r_ts / 1.3

    back = spark.read.parquet(zp)
    assert back.count() == ev.count()
    assert back.exceptAll(ev).count() == 0 and ev.exceptAll(back).count() == 0


def test_zorder_col_validation(spark):
    from bloomjoin_spark.sources import zorder_col

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    with pytest.raises(ValueError, match="numeric/timestamp"):
        zorder_col(ev, ["event_type"])
    with pytest.raises(ValueError, match="not in DataFrame"):
        zorder_col(ev, ["nope"])
    with pytest.raises(ValueError, match="bits"):
        zorder_col(ev, ["user_id", "value"], bits=40)
    with pytest.raises(ValueError, match="non-empty"):
        zorder_col(ev, [])


def test_zorder_col_null_and_skew_handling(spark):
    """NULLs rank 0; a heavily skewed column still spreads across
    buckets (quantile ranks, not linear min/max scaling)."""
    from pyspark.sql import functions as F

    from bloomjoin_spark.sources import zorder_col

    # 90% of mass at 0, tail to 10^9: linear scaling would put 90% in
    # bucket 0; quantile ranks must spread the tail
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0.0))
        .otherwise((F.col("id") * F.lit(100_000.0))).alias("v"),
        F.when(F.col("id") % 100 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("id").cast("double")).alias("w"),
    )
    z = df.select(zorder_col(df, ["v", "w"], bits=6).alias("z"))
    n_distinct = z.distinct().count()
    assert n_distinct > 32  # spread, not collapsed into one bucket
    assert z.filter(F.col("z").isNull()).count() == 0  # nulls rank 0


def test_zorder_bits1_still_buckets(spark):
    """bits=1 must yield 2 quantile buckets per column (an off-by-one
    bucket count used to produce ZERO cutoffs and a constant z at
    bits=1 — collapsing the layout into one file silently)."""
    from pyspark.sql import functions as F

    from bloomjoin_spark.sources import zorder_col

    df = spark.range(0, 1000).select(
        F.col("id").cast("double").alias("a"),
        F.pmod(F.col("id") * 7919, F.lit(1000)).cast("double").alias("b"),
    )
    z = df.select(zorder_col(df, ["a", "b"], bits=1).alias("z"))
    vals = sorted(r.z for r in z.distinct().collect())
    # both columns contribute a real bit: all four interleavings appear
    assert vals == [0, 1, 2, 3]
