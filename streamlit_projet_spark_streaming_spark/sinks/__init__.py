"""Batch sink layer: partitioned/sorted gold-table writes, swap-in gold
publishes and packed training-shard export. Streaming sinks live in
``streaming/`` (consumer checkpointed append, incremental merge-on-write)."""

from .writer import publish_table, write_packed_shards, write_partitioned

__all__ = ["publish_table", "write_partitioned", "write_packed_shards"]
