"""eth_indexer_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of getamis/eth-indexer.

Brand-new Spark-first design (NOT a port): the reference's MySQL tables become
partitioned Parquet DataFrames, its hand-written SQL strings become Catalyst
logical plans, its Go channel/loop streaming core becomes Structured Streaming
with ``foreachBatch``, and its per-token dynamic DDL becomes a ``token``
partition column.

Layout
------
- ``session``   SparkSession factory tuned for local[N] and for cluster scale.
- ``schema``    canonical StructTypes for the reference catalog (SURVEY §1.4).
- ``catalog``   table loaders for the driver testdata and domain fixtures.
- ``functions`` scalar column helpers (hex and uint256 decode, rewards, text).
- ``operators`` reusable relational operators (as-of join, top-k, dedup, ANN).
- ``plans``     the read-path query surface (reference EP3 parity) + analytics.
- ``pipeline``  per-batch transform dataflow (reference EP1 step 5 parity).
- ``streaming`` Structured Streaming ingest shell + reorg protocol.
"""

__version__ = "0.1.0"
