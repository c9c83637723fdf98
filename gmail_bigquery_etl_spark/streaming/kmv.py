"""Streaming KMV maintenance: the bottom-k sketch kept live over a stream.

The reservoir-sampling story at stream time: per micro-batch, take the
batch's own bottom-k, merge with the committed sketch, re-take bottom-k,
commit through the shared snapshot-pointer sink (streaming/snapshots.py).
State is O(k) rows forever; a batch never re-scans history. Re-merging an
already-merged batch would not change a KMV sketch (dedup discards
repeats), but the sink's replay guard still keeps a redelivered batch from
rewriting the snapshot it reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.kmv import kmv_build, kmv_merge
from .snapshots import commit, read_current, start

_KMV_SCHEMA = "h bigint, value string"


def read_kmv(spark, sink_root: str) -> DataFrame:
    return read_current(spark, sink_root, _KMV_SCHEMA)


def apply_kmv_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    col: str,
    sink_root: str,
    k: int,
) -> None:
    """One micro-batch merge; module-level so the replay guard is
    directly testable. Values are committed as strings (the hash is
    over the string form anyway, so the sketch is type-stable across
    heterogeneous upstreams)."""

    def write(new_dir: str) -> None:
        batch_sketch = kmv_build(batch_df, col, k).withColumn(
            "value", F.col("value").cast("string")
        )
        merged = kmv_merge([read_kmv(spark, sink_root), batch_sketch], k)
        merged.write.mode("overwrite").parquet(new_dir)

    commit(sink_root, batch_id, write)


def start_kmv_maintenance(
    items_stream: DataFrame,
    col: str,
    sink_root: str,
    checkpoint_path: str,
    k: int = 256,
) -> StreamingQuery:
    spark = items_stream.sparkSession
    return start(
        items_stream,
        checkpoint_path,
        lambda df, batch_id: apply_kmv_batch(
            spark, df, batch_id, col, sink_root, k
        ),
    )
