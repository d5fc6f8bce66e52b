"""Hex / topic / ABI column helpers.

Reference equivalents: common/utils.go:42-75 (hex ↔ bytes, 0x-strip,
lowercase), common/utils.go:161-193 (topic unpacking), store/event_erc20.go:
44-46 + contracts/utils.go:53-72 (ABI uint256 decode). All pure Column
expressions; the exact uint256 decode runs in the JVM through
``scala.math.BigInt`` because ``conv()`` is 64-bit and DECIMAL(38,0) < 2^256.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_hex(col) -> Column:
    """Lowercase, 0x-stripped hex (utils.go:42-55)."""
    return F.lower(F.regexp_replace(_c(col), "^0x", ""))


def topic_to_address(col) -> Column:
    """A 32-byte topic holding a left-padded address → 40-char address hex
    (event_erc20.go:51-53 uses common.BytesToAddress(topic))."""
    return F.substring(normalize_hex(col), 25, 40)


def abi_uint256(col) -> Column:
    """Exact decode of big-endian ABI data → uint256 decimal string
    (event_erc20.go:44-46): the whole blob's value, full 2^256 range and
    beyond, as ``int.from_bytes(b, "big")``. NULL stays NULL, empty data is
    "0". ``BigInt(hex, 16)`` runs in the JVM, so the decode needs no
    Python worker."""
    h = F.hex(_c(col))
    return F.when(h == "", F.lit("0")).when(
        h.isNotNull(),
        F.reflect(F.lit("scala.math.BigInt"), F.lit("apply"), h, F.lit(16)),
    )
