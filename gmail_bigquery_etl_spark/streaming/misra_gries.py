"""Streaming Misra-Gries maintenance: a deterministic heavy-hitter
summary kept current over a stream, one micro-batch merge at a time.

Per micro-batch, summarize the batch (operators/misra_gries.mg_build),
merge into the committed summary (mg_merge) and commit the new O(k)
summary table through the shared snapshot-pointer sink
(streaming/snapshots.py), so readers always see a complete summary. An
MG merge -- like a CMS merge -- is NOT idempotent (re-merging a batch
double-counts its mass before the compress), which is why that sink's
replay guard matters here.

What the parity test can and cannot pin: unlike the additive CMS
(split-invariant, streamed cells == one batch build bit-for-bit), MG
compressions compound per merge, so the streamed state depends on the
batch SPLIT -- but for a FIXED split it is fully deterministic. The
tests therefore pin (a) exact equality against a batch-side left fold
of mg_merge over the same batch frames, and (b) the worst-case
guarantee est <= true <= est + (N - M)/(k+1) against exact corpus
counts, which holds for every split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.misra_gries import SUMMARY_SCHEMA, mg_build, mg_merge
from .snapshots import commit, read_current, start


def read_mg_summary(spark, sink_root: str) -> DataFrame:
    """The current committed summary (empty, well-typed, before the
    first commit)."""
    return read_current(spark, sink_root, SUMMARY_SCHEMA)


def apply_mg_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    item_col: str,
    sink_root: str,
    k: int = 64,
) -> None:
    """One micro-batch merge (module-level so the replay guard is
    directly testable)."""

    def write(new_dir: str) -> None:
        merged = mg_merge(
            read_mg_summary(spark, sink_root),
            mg_build(batch_df, item_col, k=k),
            k=k,
        )
        merged.write.mode("overwrite").parquet(new_dir)

    commit(sink_root, batch_id, write)


def start_mg_maintenance(
    items_stream: DataFrame,
    item_col: str,
    sink_root: str,
    checkpoint_path: str,
    k: int = 64,
) -> StreamingQuery:
    """Maintain the summary over a stream of items. Returns the query
    handle; read the live summary via ``read_mg_summary``."""
    spark = items_stream.sparkSession
    return start(
        items_stream,
        checkpoint_path,
        lambda df, batch_id: apply_mg_batch(
            spark, df, batch_id, item_col, sink_root, k=k
        ),
    )
