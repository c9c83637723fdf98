"""Streaming incremental ingest: the reference pipeline under foreachBatch.

The reference's /fetch run is: list pages -> anti-join vs sink ids -> build
records -> batched insert, with read-side dedup making re-runs idempotent
(etl_service/main.py:163-254). Under Structured Streaming the same dataflow
is a foreachBatch sink:

  per micro-batch: re-read sink ids -> broadcast LEFT ANTI join ->
  header-extraction record build -> dropDuplicates(id) -> append parquet.

Re-reading the sink's id projection each batch is the deliberate divergence
from the reference's 1-hour-stale TTL cache (main.py:53-66, SURVEY.md §2.7
ST3): correctness over the reference's duplicate window.

Scale: the per-batch id scan is a single-column parquet read (column-pruned
at the footer); at 100 TB you bound it by partition-pruning the sink on
ingest date -- pass ``existing_filter`` for that. Exactly-once: parquet
append + read-side anti-join gives effectively-once on task retries within
a batch and across stream restarts (checkpoint tracks consumed files).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.column import Column
from pyspark.sql.streaming import StreamingQuery

from ..operators.incremental import ingest_increment
from .snapshots import start


def start_incremental_ingest(
    messages_stream: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    existing_filter: Column | None = None,
) -> StreamingQuery:
    """Start the streaming ingest; returns the StreamingQuery handle."""
    spark = messages_stream.sparkSession

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _sink_exists(sink_path):
            # filter BEFORE projecting: existing_filter prunes on sink
            # columns other than id (its documented use is partition
            # pruning by ingest date), which a post-projection filter
            # could not resolve
            existing = spark.read.parquet(sink_path)
            if existing_filter is not None:
                existing = existing.filter(existing_filter)
            existing = existing.select("id")
        else:
            existing = spark.createDataFrame([], "id string")
        increment = ingest_increment(batch_df, existing)
        increment.write.mode("append").parquet(sink_path)

    return start(messages_stream, checkpoint_path, sink_batch)


def _sink_exists(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )
