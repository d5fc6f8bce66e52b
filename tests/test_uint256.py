"""uint256 ABI decode (functions/hexutils.py): exact in the JVM around and
beyond the DECIMAL(38,0) boundary (FIXTURES.md scenario 6). The ledger's
fast-path/exact-path choice is pinned in test_pipeline.py."""

from __future__ import annotations

import pytest

from eth_indexer_spark.functions.hexutils import abi_uint256


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
