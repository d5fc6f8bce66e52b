"""uint256 policy tests (schema.py + functions/uint256.py): DECIMAL(38,0)
fast path vs exact pandas path, around and beyond the 1e38 boundary
(FIXTURES.md scenario 6)."""

from __future__ import annotations

import pytest

from eth_indexer_spark.functions import uint256 as u
from eth_indexer_spark.functions.hexutils import abi_uint256


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        ("a", str(10**39), str(2**200)),
        ("a", str(3), str(1)),
        ("b", str(2**255), str(2**255)),
    ]
    return spark.createDataFrame(rows, "k string, x string, y string")


def test_fast_path_within_range(spark):
    df = spark.createDataFrame([(str(10**37), str(5))], "x string, y string")
    got = df.select((u.u256("x") + u.u256("y")).cast("string").alias("s")).collect()[0]["s"]
    assert got == str(10**37 + 5)


def test_fast_path_overflows_to_null(spark):
    """Documented limitation: the decimal cast nulls beyond ~1e38 — the
    reason exact stages exist."""
    df = spark.createDataFrame([(str(10**39),)], "x string")
    assert df.select(u.u256("x").alias("v")).collect()[0]["v"] is None


def test_exact_add_sub_mul(df):
    row = df.select(
        u.u256_add("x", "y").alias("a"),
        u.u256_sub("x", "y").alias("s"),
        u.u256_mul("x", "y").alias("m"),
    ).collect()
    for r, (x, y) in zip(row, [(10**39, 2**200), (3, 1), (2**255, 2**255)]):
        assert r["a"] == str(x + y)
        assert r["s"] == str(x - y)
        assert r["m"] == str(x * y)


def test_exact_grouped_sum(df):
    got = {
        r["k"]: r["total"]
        for r in df.groupBy("k").agg(u.u256_sum("x").alias("total")).collect()
    }
    assert got == {"a": str(10**39 + 3), "b": str(2**255)}


def test_exact_compare(df):
    rows = df.select(u.u256_gt("x", "y").alias("gt")).collect()
    assert [r["gt"] for r in rows] == [10**39 > 2**200, True, False]


@pytest.mark.parametrize(
    "data",
    [
        None,
        b"",
        b"\x00",
        b"\x00" * 32,
        (10**38 - 1).to_bytes(32, "big"),
        (10**38).to_bytes(32, "big"),
        (2**128).to_bytes(32, "big"),
        (2**256 - 1).to_bytes(32, "big"),
        bytes(range(1, 39)),
    ],
    ids=["null", "empty", "one-zero", "zero-word", "1e38-1", "1e38", "2^128", "2^256-1", "38-bytes"],
)
def test_abi_uint256_decodes_like_python_int(spark, data):
    """The JVM decode equals ``int.from_bytes(b, "big")`` over the whole
    blob: a DECIMAL(38,0) step would null 10^38 and 2^256-1."""
    df = spark.createDataFrame([(data,)], "data binary")
    got = df.select(abi_uint256("data").alias("v")).collect()[0]["v"]
    assert got == (None if data is None else str(int.from_bytes(data, "big")))
