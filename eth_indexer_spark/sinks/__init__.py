from eth_indexer_spark.sinks.logstore import LogStore

__all__ = ["LogStore"]
