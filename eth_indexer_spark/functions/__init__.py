"""Scalar column helpers: hex/topic utilities (with the exact uint256 ABI
decode), reward-schedule math and text analysis.

Everything here is a built-in Column expression; the uint256 ABI decode is
exact in the JVM.
"""
