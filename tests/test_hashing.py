"""Canonical-hashing tests — strategy ported from the reference's
test-hash_keys32.R / test-cross-type-keys.R (SURVEY.md §1.2, §5)."""

import numpy as np
import pandas as pd

from bloomjoin_spark.hashing import (
    NULL_SENTINEL,
    combine_hashes,
    hash_columns,
    hash_float64,
    hash_series,
    hash_tokens_flat,
    splitmix64,
)


def test_splitmix64_deterministic_and_diffuse():
    x = np.arange(1000, dtype=np.uint64)
    a, b = splitmix64(x), splitmix64(x)
    assert np.array_equal(a, b)
    assert len(np.unique(a)) == 1000
    # input untouched
    assert x[5] == 5


def test_negative_zero_equals_positive_zero():
    h = hash_float64(np.array([-0.0, 0.0]))
    assert h[0] == h[1]


def test_nan_maps_to_null_sentinel():
    h = hash_float64(np.array([np.nan, float("nan"), 1.0]))
    assert h[0] == h[1] == NULL_SENTINEL  # pre-splitmix canonicalisation
    assert h[2] != h[0]


def test_int_equals_double_cross_type():
    # reference invariant src/hash_keys.cpp:58-68: join-equal ⇒ hash-equal
    ints = hash_series(pd.Series([1, 2, 3], dtype="int64"))
    dbls = hash_series(pd.Series([1.0, 2.0, 3.0]))
    assert np.array_equal(ints, dbls)
    i32 = hash_series(pd.Series([1, 2, 3], dtype="int32"))
    assert np.array_equal(ints, i32)


def test_bool_equals_numeric():
    b = hash_series(pd.Series([True, False]))
    n = hash_series(pd.Series([1.0, 0.0]))
    assert np.array_equal(b, n)


def test_categorical_equals_string():
    c = hash_series(pd.Series(["x", "y", "x"], dtype="category"))
    s = hash_series(pd.Series(["x", "y", "x"]))
    assert np.array_equal(c, s)


def test_nulls_all_types_collapse_to_sentinel():
    assert hash_series(pd.Series([None], dtype="object"))[0] == NULL_SENTINEL
    assert hash_series(pd.Series([np.nan]))[0] == NULL_SENTINEL
    assert hash_series(pd.Series([pd.NA], dtype="Int64"))[0] == NULL_SENTINEL
    assert hash_series(pd.Series([pd.NaT], dtype="datetime64[ns]"))[0] == NULL_SENTINEL


def test_composite_keys_order_sensitive():
    a = combine_hashes([np.array([1], dtype=np.uint64), np.array([2], dtype=np.uint64)])
    b = combine_hashes([np.array([2], dtype=np.uint64), np.array([1], dtype=np.uint64)])
    assert a[0] != b[0]


def test_hash_columns_mixed_types():
    pdf = pd.DataFrame(
        {
            "s": ["a", "b", None, "d"],
            "i": pd.array([1, None, 3, 4], dtype="Int64"),
            "f": [0.5, -0.0, np.nan, 2.0],
        }
    )
    h = hash_columns(pdf, ["s", "i", "f"])
    assert h.dtype == np.uint64 and len(np.unique(h)) == 4
    # stable across calls
    assert np.array_equal(h, hash_columns(pdf, ["s", "i", "f"]))


def test_hash_tokens_flat():
    s = pd.Series([np.array([1, 2], dtype=np.int32), None, np.array([], dtype=np.int32), np.array([3], dtype=np.int32)])
    h = hash_tokens_flat(s)
    assert h.shape == (3,)
    # token id 1 hashes like scalar int 1
    one = hash_series(pd.Series([1], dtype="int32"))
    assert h[0] == one[0]


def test_hash_keys32_public_api(spark):
    """Public hash_keys32/64 parity surface (reference NAMESPACE:5-7):
    deterministic, composite-key, JVM-side."""
    import pandas as pd

    from bloomjoin_spark.functions import hash_keys32, hash_keys64, hash_keys_pandas

    df = spark.createDataFrame([(1, "a"), (2, "b"), (1, "a")], "k int, s string")
    h64 = [r["key_hash64"] for r in hash_keys64(df, ["k", "s"]).collect()]
    h32 = [r["key_hash32"] for r in hash_keys32(df, ["k", "s"]).collect()]
    assert h64[0] == h64[2] and h64[0] != h64[1]
    assert h32[0] == h32[2] and h32[0] != h32[1]
    assert all(-(2**31) <= v < 2**31 for v in h32)
    # pandas-side canonical hash: cross-type equality int == double
    pa = hash_keys_pandas(pd.DataFrame({"k": [1, 2]}), "k")
    pb = hash_keys_pandas(pd.DataFrame({"k": [1.0, 2.0]}), "k")
    assert (pa == pb).all()


def test_utf8_long_row_kernel():
    """A multi-megabyte row must not trigger millions of near-empty
    column passes: rows over the cutoff route to the word-lane kernel.
    A row's hash depends only on its own bytes — identical across batch
    compositions — and long-row hashes stay distinct."""
    import time

    import pyarrow as pa

    from bloomjoin_spark.hashing import hash_utf8_arrow

    long_a = "x" * 5_000_000
    long_b = "x" * 5_000_001
    shorts = [f"s{i}" for i in range(1_000)]
    t0 = time.time()
    mixed = hash_utf8_arrow(pa.array([long_a, long_b] + shorts, type=pa.string()))
    assert time.time() - t0 < 5.0  # the cliff was minutes, not seconds
    alone = hash_utf8_arrow(pa.array([long_a], type=pa.string()))
    assert mixed[0] == alone[0]
    assert mixed[0] != mixed[1]
    shorts_alone = hash_utf8_arrow(pa.array(shorts, type=pa.string()))
    assert np.array_equal(mixed[2:], shorts_alone)
    # seed sensitivity on the long path
    assert hash_utf8_arrow(pa.array([long_a]), seed=7)[0] != alone[0]


def test_hash_keys_public_cross_type(spark):
    """Reference cross-type invariant through the PUBLIC JVM-side API
    (src/hash_keys.cpp:58-68; tests/testthat/test-cross-type-keys.R:16-44):
    int vs double and date vs timestamp key columns hash identically."""
    import datetime as dt

    from bloomjoin_spark.functions import hash_keys32, hash_keys64

    di = spark.createDataFrame([(1,), (2,), (7,)], "k int")
    dd = spark.createDataFrame([(1.0,), (2.0,), (7.0,)], "k double")
    dl = spark.createDataFrame([(1,), (2,), (7,)], "k bigint")
    for fn, col in ((hash_keys64, "key_hash64"), (hash_keys32, "key_hash32")):
        hi = [r[col] for r in fn(di, "k").collect()]
        hd = [r[col] for r in fn(dd, "k").collect()]
        hl = [r[col] for r in fn(dl, "k").collect()]
        assert hi == hd == hl

    days = [dt.date(2024, 1, 1), dt.date(2025, 6, 30)]
    ddate = spark.createDataFrame([(d,) for d in days], "k date")
    dts = spark.createDataFrame(
        [(dt.datetime(d.year, d.month, d.day),) for d in days], "k timestamp"
    )
    h_date = [r["key_hash64"] for r in hash_keys64(ddate, "k").collect()]
    h_ts = [r["key_hash64"] for r in hash_keys64(dts, "k").collect()]
    assert h_date == h_ts

    # bigint beyond 2^53 must stay EXACT: adjacent snowflake-style ids
    # are the same double but must hash distinctly through the public API
    big = spark.createDataFrame(
        [((1 << 53) + 1,), ((1 << 53) + 2,), (-((1 << 53) + 7),)], "k bigint"
    )
    hb = [r["key_hash64"] for r in hash_keys64(big, "k").collect()]
    assert len(set(hb)) == 3


def test_hash_keys_decimal_gate(spark):
    """ADVICE r3: high-precision decimals must not collapse through an
    unconditional double cast — DECIMAL(38,0) ids beyond 2^53 hash
    their exact native bits (same magnitude branch as bigint), while
    narrow decimals (precision−scale ≤ 15) and wide-but-small values
    keep the cross-type double canonicalisation."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from bloomjoin_spark.functions import hash_keys64

    # adjacent wide-decimal ids that are the SAME double
    base = Decimal(1 << 53)
    wide = spark.createDataFrame(
        [(base + 1,), (base + 2,), (base + 3,)], "k decimal(38,0)"
    )
    hw = [r["key_hash64"] for r in hash_keys64(wide, "k").collect()]
    assert len(set(hw)) == 3
    # wide type, small magnitude → still cross-type canonical with int
    small_wide = spark.createDataFrame(
        [(Decimal(5),), (Decimal(42),)], "k decimal(38,0)"
    )
    ints = spark.createDataFrame([(5,), (42,)], "k int")
    assert [r["key_hash64"] for r in hash_keys64(small_wide, "k").collect()] == [
        r["key_hash64"] for r in hash_keys64(ints, "k").collect()
    ]
    # narrow decimal (fits 2^53 by type) → always double-canonical
    narrow = spark.createDataFrame(
        [(Decimal("5.00"),), (Decimal("42.00"),)], "k decimal(10,2)"
    )
    dbls = spark.createDataFrame([(5.0,), (42.0,)], "k double")
    assert [r["key_hash64"] for r in hash_keys64(narrow, "k").collect()] == [
        r["key_hash64"] for r in hash_keys64(dbls, "k").collect()
    ]
    # code-review r4 fix: the gate is TOTAL precision, not integer
    # digits — decimal(16,1) keys 999999999999990.2 vs .3 are distinct
    # keys one double must conflate, so they take the exact branch
    frac = spark.createDataFrame(
        [(Decimal("999999999999990.2"),), (Decimal("999999999999990.3"),)],
        "k decimal(16,1)",
    )
    hf = [r["key_hash64"] for r in hash_keys64(frac, "k").collect()]
    assert len(set(hf)) == 2
    # and wide fractional decimals near 2^53 stay distinct too
    big_frac = spark.createDataFrame(
        [(Decimal(1 << 53) + Decimal("0.1"),),
         (Decimal(1 << 53) + Decimal("0.2"),)],
        "k decimal(20,1)",
    )
    hbf = [r["key_hash64"] for r in hash_keys64(big_frac, "k").collect()]
    assert len(set(hbf)) == 2
    # small-magnitude values in a wide fractional column keep the
    # cross-type double canonicalisation
    small_frac = spark.createDataFrame(
        [(Decimal("5.0"),), (Decimal("42.0"),)], "k decimal(20,1)"
    )
    assert [r["key_hash64"] for r in hash_keys64(small_frac, "k").collect()] == [
        r["key_hash64"] for r in hash_keys64(dbls, "k").collect()
    ]


def test_hash_keys_pandas_cross_type_and_distinct_kernels():
    """The pandas-side public hasher carries the same cross-type
    canonicalisation contract (int == double == nullable Int64; bigint
    beyond 2^53 exact) — and is documented as NOT interchangeable with
    the JVM hasher: same keys, different values."""
    import pandas as pd

    from bloomjoin_spark.functions import hash_keys_pandas

    pi = hash_keys_pandas(pd.DataFrame({"k": pd.array([1, 2, 7], dtype="int64")}), "k")
    pdl = hash_keys_pandas(pd.DataFrame({"k": [1.0, 2.0, 7.0]}), "k")
    pn = hash_keys_pandas(pd.DataFrame({"k": pd.array([1, 2, 7], dtype="Int64")}), "k")
    assert (pi == pdl).all() and (pi == pn).all()
    big = pd.DataFrame({"k": [(1 << 53) + 1, (1 << 53) + 2, (1 << 53) + 3]})
    assert len(set(hash_keys_pandas(big, "k").tolist())) == 3


def test_two_public_hashers_differ(spark):
    """hash_keys64 (JVM xxhash64) and hash_keys_pandas (numpy
    splitmix64) are each canonical but deliberately DISTINCT kernels —
    pin that they disagree so nobody silently mixes them across a
    build/probe pair (docstrings cross-reference this)."""
    import pandas as pd

    from bloomjoin_spark.functions import hash_keys64, hash_keys_pandas

    df = spark.createDataFrame([(1,), (2,), (7,)], "k bigint")
    jvm = [r["key_hash64"] for r in hash_keys64(df, "k").collect()]
    py = hash_keys_pandas(pd.DataFrame({"k": [1, 2, 7]}), "k")
    assert [v & ((1 << 64) - 1) for v in jvm] != py.tolist()


def test_utf8_arrow_kernel_matches_hash_strings():
    """The Arrow ingest fast path and the pandas query path share ONE
    string-hash kernel — sliced arrays, large_string, unicode, empties
    and nulls all agree."""
    import pyarrow as pa

    from bloomjoin_spark.hashing import (
        NULL_SENTINEL,
        hash_strings,
        hash_utf8_arrow,
    )

    vals = ["doc_1", "doc_2", "", "a", None, "doc_1", "日本語テキスト", "x" * 500]
    s = pd.Series(vals, dtype=object)
    h = hash_strings(s)
    assert np.array_equal(h, hash_utf8_arrow(pa.array(vals, type=pa.string())))
    assert np.array_equal(h, hash_utf8_arrow(pa.array(vals, type=pa.large_string())))
    sliced = pa.array(vals, type=pa.string()).slice(2, 4)
    assert np.array_equal(hash_utf8_arrow(sliced), h[2:6])
    assert h[4] == NULL_SENTINEL
    assert h[0] == h[5] and h[0] != h[1] and h[2] != h[3]


def test_arrow_key_hash_ignores_its_batch():
    """``hash_arrow`` hashes each value of a column as it hashes that
    value alone, for the types whose pandas form depends on the batch
    (a null makes a bigint column float64 and a boolean one ``object``;
    one non-utf8 value used to turn a whole binary batch into ``str()``)."""
    import datetime as dt
    from decimal import Decimal

    import pyarrow as pa

    from bloomjoin_spark.hashing import hash_arrow, hash_strings

    big = (1 << 53) + 1
    cases = [
        pa.array([True, False, None]),
        pa.array([big, -big, None], pa.int64()),
        pa.array([7, None], pa.int8()),
        pa.array([1.5, -0.0, float("nan"), None], pa.float32()),
        pa.array([b"a", b"\xff\x00", b"", None]),
        pa.array([Decimal("1.50"), None]),
        pa.array([dt.date(2024, 1, 2), None]),
        pa.array([0, None], pa.timestamp("us", tz="America/Los_Angeles")),
    ]
    for col in cases:
        whole = hash_arrow(col)
        alone = np.array([hash_arrow(col.slice(i, 1))[0] for i in range(len(col))])
        assert np.array_equal(whole, alone), col.type
        assert whole[-1] == NULL_SENTINEL
    assert hash_arrow(cases[1])[0] != hash_float64(np.array([float(big)]))[0]
    assert np.array_equal(hash_arrow(cases[0])[:2], hash_float64(np.array([1.0, 0.0])))
    # a binary value hashes by its bytes when utf8, else by str(bytes),
    # in an Arrow column and in a pandas frame alike
    mixed = pd.Series([b"a", b"\xff\x00", None], dtype=object)
    assert np.array_equal(hash_strings(mixed), hash_arrow(cases[4].take([0, 1, 3])))
    assert hash_strings(mixed)[0] == hash_strings(pd.Series(["a"]))[0]
    # a timestamp hashes at its session wall clock: 1969-12-31 16:00 here
    wall = hash_series(pd.Series(pd.to_datetime(["1969-12-31 16:00"])))
    assert hash_arrow(cases[-1])[0] == wall[0]


def test_utf8_arrow_kernel_no_collisions_bulk():
    import pyarrow as pa

    from bloomjoin_spark.hashing import hash_utf8_arrow

    big = pa.array([f"doc_{i:08d}" for i in range(200_000)])
    assert len(np.unique(hash_utf8_arrow(big))) == 200_000


def test_hash_format_stamp_owned_by_one_module():
    """Only ``hashing.py`` imports or names ``HASH_FORMAT`` and names
    the stamp column in code: checkpoints, stores and Bloom indexes
    stamp and read their rows through ``stamp_hash_format`` and
    ``foreign_hash_format``.  Docstrings and comments may mention them."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "bloomjoin_spark"

    def names_stamp(tree):
        docs = {id(n.body[0].value) for n in ast.walk(tree)
                if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                  ast.AsyncFunctionDef))
                and n.body and isinstance(n.body[0], ast.Expr)}
        for n in ast.walk(tree):
            name = getattr(n, "name", None) or getattr(n, "id", None) or getattr(n, "attr", None)
            if name == "HASH_FORMAT" or (
                isinstance(n, ast.Constant) and isinstance(n.value, str)
                and id(n) not in docs and re.search(r"\bhash_format\b", n.value)
            ):
                return True
        return False

    owners = sorted(str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
                    if names_stamp(ast.parse(p.read_text())))
    assert owners == ["hashing.py"]
