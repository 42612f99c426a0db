"""The key hash rule per column type, pinned.

A key hashes by its column's type alone, never by what else its Arrow
batch holds: each pin builds one partition without a null and one with
a null key, so a hash that depended on the batch (a bigint column that
a null turned into float64, a boolean column that a null turned into
``object``) moves the digest."""

import datetime as dt
import hashlib
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

_UTC = dt.timezone.utc

#: per type: the key values of a null-free partition and of a partition
#: with a null; the first two values repeat, so a key hashed two ways
#: counts twice
_TYPES = {
    "boolean": ([True, False, True], [True, False, None]),
    "tinyint": ([1, -2, 3], [1, -2, None]),
    "smallint": ([300, -2, 7], [300, -2, None]),
    "int": ([70000, -2, 5], [70000, -2, None]),
    "bigint": ([(1 << 53) + 1, -(1 << 53) - 3, 5], [(1 << 53) + 1, -(1 << 53) - 3, None]),
    "float": ([1.5, -0.0, 3.25], [1.5, 0.0, None]),
    "double": ([1.5, -0.0, float("nan")], [1.5, 0.0, None]),
    "decimal(10,2)": (
        [Decimal("1.50"), Decimal("-2.25"), Decimal("3.00")],
        [Decimal("1.50"), Decimal("-2.25"), None],
    ),
    "decimal(38,0)": (
        [Decimal(10**30), Decimal(-7), Decimal(3)], [Decimal(10**30), Decimal(-7), None],
    ),
    "string": (["a", "é", ""], ["a", "é", None]),
    "binary": ([b"a", b"\xff\x00", b""], [b"a", b"\xff\x00", None]),
    "date": (
        [dt.date(2024, 1, 2), dt.date(1969, 12, 31), dt.date(2000, 2, 29)],
        [dt.date(2024, 1, 2), dt.date(1969, 12, 31), None],
    ),
    "timestamp": (
        [dt.datetime(2024, 1, 2, 3, 4, 5, 678901, _UTC),
         dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=_UTC),
         dt.datetime(2000, 2, 29, 12, tzinfo=_UTC)],
        [dt.datetime(2024, 1, 2, 3, 4, 5, 678901, _UTC),
         dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=_UTC), None],
    ),
    "timestamp_ntz": (
        [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.datetime(1969, 12, 31, 23, 59, 59),
         dt.datetime(2000, 2, 29, 12)],
        [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.datetime(1969, 12, 31, 23, 59, 59), None],
    ),
}

#: sha256 per type of ``{lane: merged rows}`` under a UTC session.
#: Each equals the digest of the same rows built one row per partition
#: before every lane read Arrow batches, that is with every key hashed
#: alone.  The pins of whole batches differed from that for three
#: types, where a key's hash had depended on its batch: boolean (a null
#: made the column ``object``: ``"True"``), bigint in the pandas lanes (a
#: null made it float64: 2^53 + 1 rounded) and binary (one non-utf8
#: value made every value of its batch hash as ``str(bytes)``).
TYPE_DIGESTS = {
    "boolean": {"single": "a962266f514c31c8", "grouped_single": "d8b79ec0c63f04b2", "pair": "8732864b7ba15ed5", "grouped_pair": "434974314a30395a"},
    "tinyint": {"single": "9579acd6e86a38f0", "grouped_single": "26f6f3e3122d4947", "pair": "f14cba1b67e1802a", "grouped_pair": "521848e22eafa14c"},
    "smallint": {"single": "ed539af0a9fc234a", "grouped_single": "553a665d3f285a8e", "pair": "de1a416250b50167", "grouped_pair": "b03c2cf3505c45fd"},
    "int": {"single": "22381ae3c4b17d94", "grouped_single": "c997b232fa9ec53b", "pair": "8c457f2023f1584f", "grouped_pair": "6f3f291afbaccc5c"},
    "bigint": {"single": "dc5dfc3fbd97e448", "grouped_single": "7df10c0ca7d62acb", "pair": "8ecd55dcebb10e43", "grouped_pair": "35fc5c2b4e4a10d4"},
    "float": {"single": "ffeef77daf7f6dc4", "grouped_single": "cc23ad24268bb671", "pair": "76c7178f3ea49b6d", "grouped_pair": "c04ef27019e43ae1"},
    "double": {"single": "2bdd37c3dfb5757d", "grouped_single": "255ffcd8da821337", "pair": "56697bcfcbbb4971", "grouped_pair": "20d5648c3a92e798"},
    "decimal(10,2)": {"single": "74386ce692a77a3e", "grouped_single": "c694be05ee09d223", "pair": "1fa206ff4ad5edc4", "grouped_pair": "28edbc079f4ecfca"},
    "decimal(38,0)": {"single": "6fbfee8928d2a1a5", "grouped_single": "755a11760b07b415", "pair": "077121e34df165f3", "grouped_pair": "28a21b4582cfdcca"},
    "string": {"single": "aeef606e8379e6a6", "grouped_single": "159f3a8c6d454b02", "pair": "a06f0cd4e8dfe906", "grouped_pair": "c1ad85768bbd87a5"},
    "binary": {"single": "d76c3067b7edbe97", "grouped_single": "5f7ed4e70a3929b2", "pair": "071e5811717845f2", "grouped_pair": "90650a2060fd205e"},
    "date": {"single": "87468ab50c81c6a7", "grouped_single": "bac20595efe23efd", "pair": "8eb9c34d446e1cca", "grouped_pair": "e20aed8154c90161"},
    "timestamp": {"single": "10655f130a63cf91", "grouped_single": "af295d58ee5f1f22", "pair": "e6741c52a527e465", "grouped_pair": "ce26b4f258d7b569"},
    "timestamp_ntz": {"single": "10655f130a63cf91", "grouped_single": "af295d58ee5f1f22", "pair": "e6741c52a527e465", "grouped_pair": "ce26b4f258d7b569"},
}

#: the time types again under ``America/Los_Angeles``
LA_DIGESTS = {
    "date": {"single": "87468ab50c81c6a7", "grouped_single": "bac20595efe23efd", "pair": "8eb9c34d446e1cca", "grouped_pair": "e20aed8154c90161"},
    "timestamp": {"single": "297e47530d6756bc", "grouped_single": "f84f2e333912fb63", "pair": "aa996ceaa171c80b", "grouped_pair": "23d0e40fbdc92dc2"},
    "timestamp_ntz": {"single": "10655f130a63cf91", "grouped_single": "af295d58ee5f1f22", "pair": "e6741c52a527e465", "grouped_pair": "ce26b4f258d7b569"},
}


def _typed_df(spark, typ):
    """Six rows ``(g, c, z)`` of key column ``c`` typed ``typ`` in two
    partitions: the first without a null, the second with one."""
    clean, nulled = _TYPES[typ]
    rows = [(g, v, "x") for g, v in zip("aba", clean)] + [
        (g, v, "x") for g, v in zip("abb", nulled)
    ]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), f"g string, c {typ}, z string"
    )


def _lanes(spark, typ):
    """``{lane: rows}``: the merged sketch of a single and a two-column
    key, built whole and per group."""
    from bloomjoin_spark import HllSketch, build_sketch
    from bloomjoin_spark.aggregate import PartialRows, grouped_sketch_partials

    df = _typed_df(spark, typ)
    out = {}
    for lane, cols in (("single", ["c"]), ("pair", ["c", "z"])):
        res = build_sketch(df, lambda: HllSketch(10), cols=cols)
        out[lane] = [(res.n_rows, res.sketch.to_bytes())]
        acc = PartialRows()
        for r in grouped_sketch_partials(df, lambda: HllSketch(10), "g", cols=cols).collect():
            acc.merge(r["g"], r)
        out[f"grouped_{lane}"] = sorted(
            (k, acc.n_rows[k], sk.to_bytes()) for k, sk in acc.sketches.items()
        )
    return out


def type_digests(spark, types, tz="UTC"):
    """``{type: {lane: sha256}}`` under session time zone ``tz``."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        return {
            typ: {lane: hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
                  for lane, rows in _lanes(spark, typ).items()}
            for typ in types
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


@pytest.mark.parametrize("typ", list(_TYPES))
def test_key_hash_per_type_pinned(spark, typ):
    """Every key type hashes to its pinned value, whole and grouped,
    alone and in a two-column key."""
    assert type_digests(spark, [typ]) == {typ: TYPE_DIGESTS[typ]}


@pytest.mark.parametrize("typ", ["date", "timestamp", "timestamp_ntz"])
def test_key_hash_per_type_pinned_off_utc(spark, typ):
    """The time types under a session time zone other than UTC: a
    timestamp hashes by its wall clock in that zone."""
    assert type_digests(spark, [typ], "America/Los_Angeles") == {typ: LA_DIGESTS[typ]}


@pytest.mark.parametrize("case", ["boolean", "bigint_past_2_53"])
def test_null_in_batch_does_not_split_a_key(spark, case):
    """Two distinct keys in two partitions, one of them holding a null:
    a key hashed one way in the null-free partition and another way in
    the other would count three.  Whole and grouped, the single key
    (``b``) and the pair (``k, b``) both count two."""
    from bloomjoin_spark import HllSketch, build_sketch, grouped_sketch_estimates

    if case == "boolean":
        rows = [(1, True), (2, False), (1, True), (2, None)]
        typ, pair = "k long, b boolean", [(1, True), (1, True), (1, True), (1, None)]
    else:
        big = (1 << 53) + 1
        rows = [(0, big), (0, 5), (0, big), (0, None)]
        typ, pair = "k long, b long", [(0, big), (0, big), (0, big), (0, None)]
    for data, cols in ((rows, ["b"]), (pair, ["k", "b"])):
        df = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), typ)
        est = build_sketch(df, lambda: HllSketch(12), cols=cols).sketch.estimate()
        assert round(est) == 2, (cols, est)
        per_group = grouped_sketch_estimates(
            df.withColumn("g", F.lit("a")), lambda: HllSketch(12), "g", cols=cols
        ).collect()
        assert [round(r["estimate"]) for r in per_group] == [2], cols


def test_grouped_keys_keep_their_type(spark):
    """Group keys of every type come back as Spark groups them, with the
    same rows per key, under a session zone other than UTC."""
    from bloomjoin_spark import HllSketch, grouped_sketch_estimates

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        for typ in ("boolean", "bigint", "decimal(10,2)", "date", "timestamp", "timestamp_ntz"):
            clean, nulled = _TYPES[typ]
            rows = [(v, str(i)) for i, v in enumerate(clean + nulled)]
            df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), f"g {typ}, k string")
            exp = {r["g"]: r["count"] for r in df.groupBy("g").count().collect()}
            est = grouped_sketch_estimates(df, lambda: HllSketch(10), "g", cols=["k"])
            assert {r["g"]: r["n_rows"] for r in est.collect()} == exp, typ
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
