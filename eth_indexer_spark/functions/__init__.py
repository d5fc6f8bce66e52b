"""Scalar column helpers: hex/topic utilities, uint256-exact arithmetic,
reward-schedule math, text analysis, vector math.

Everything here is built-in Column expressions unless exactness genuinely
requires Python (uint256 arithmetic beyond DECIMAL(38,0) — Arrow-batched
pandas UDFs, never row-at-a-time). The uint256 ABI decode is exact in the
JVM.
"""
