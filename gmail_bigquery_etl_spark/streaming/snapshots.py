"""The snapshot-pointer layout every streaming sink commits through, and
the foreachBatch starter that drives it.

This is the Spark form of the reference's effectively-once re-run
(etl_service/main.py:284,175: an idempotent merge per micro-batch, with
the sink itself as the checkpoint). A sink root holds:

  snap_<batch_id>/   one complete state per committed micro-batch
                     (parquet, plus any sidecar files its writer adds,
                     e.g. merge_sink's ``_commit_ts``); kept until the
                     sink's own retention removes it
  _CURRENT           the name of the committed state

``commit`` is the only writer of that layout:

  1. Replay guard. foreachBatch re-delivers a batch whose stream
     checkpoint commit was lost. If the crash landed AFTER the pointer
     swap, the batch already took effect: its id is at or below the
     pointer's, and ``commit`` returns without writing. Re-running it
     would double-count an additive state (sketches, view deltas), and
     for any sink it would overwrite the very ``snap_<id>`` directory
     the new plan lazily reads, which Spark refuses -- the stream would
     never restart. Batch ids only grow, so "at or below" is exact.
  2. ``write(new_dir)`` writes the whole new state into
     ``snap_<batch_id>/``. A crash here leaves the pointer on the
     previous state, and the redelivered batch rewrites the dir.
  3. The pointer swaps atomically (tmp file + ``os.replace``), so a
     reader sees either the old state or the new one, never a partial
     write.

merge_manifest.py keeps its own layout (manifest files, versions that
maintenance commits allocate without a stream batch) and its own replay
guard, and reuses only ``swap_pointer``/``read_pointer`` and ``start``.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

_POINTER = "_CURRENT"
_PREFIX = "snap_"


def read_pointer(sink_root: str) -> str | None:
    """The name the pointer records, or None before the first commit."""
    ptr = os.path.join(sink_root, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return f.read().strip() or None


def swap_pointer(sink_root: str, name: str) -> None:
    """Point the sink at ``name`` atomically."""
    tmp = os.path.join(sink_root, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(name)
    os.replace(tmp, os.path.join(sink_root, _POINTER))


def snapshot_dir(sink_root: str, version: int) -> str:
    return os.path.join(sink_root, f"{_PREFIX}{version}")


def current_snapshot_dir(sink_root: str) -> str | None:
    name = read_pointer(sink_root)
    return os.path.join(sink_root, name) if name else None


def list_versions(sink_root: str) -> list[int]:
    """Snapshot versions retained on disk, ascending. Every committed
    generation keeps its ``snap_{batch_id}`` directory until a vacuum
    removes it, so the sink is a full version history -- the
    raw-parquet analog of a Delta/Iceberg commit log."""
    if not os.path.isdir(sink_root):
        return []
    out = []
    for name in os.listdir(sink_root):
        if name.startswith(_PREFIX) and os.path.isdir(
            os.path.join(sink_root, name)
        ):
            out.append(int(name.removeprefix(_PREFIX)))
    return sorted(out)


def read_current(spark, sink_root: str, schema=None) -> DataFrame:
    """The committed state, read with ``schema`` (DDL string or
    StructType) when given. Before the first commit: an empty frame of
    ``schema``; without one there is nothing to type it by, so raise."""
    cur = current_snapshot_dir(sink_root)
    if cur is None:
        if schema is None:
            raise ValueError(
                f"no committed snapshot in {sink_root} and no schema "
                "given for the empty frame"
            )
        return spark.createDataFrame([], schema)
    if schema is None:
        return spark.read.parquet(cur)
    return spark.read.schema(schema).parquet(cur)


def commit(
    sink_root: str, batch_id: int, write: Callable[[str], None]
) -> None:
    """Commit micro-batch ``batch_id``: replay guard, ``write(new_dir)``,
    pointer swap (see the module docstring). ``write`` builds its plan
    from the current state itself, so a replayed batch never plans."""
    os.makedirs(sink_root, exist_ok=True)
    cur = read_pointer(sink_root)
    if cur is not None and batch_id <= int(cur.removeprefix(_PREFIX)):
        return
    new_dir = snapshot_dir(sink_root, batch_id)
    write(new_dir)
    swap_pointer(sink_root, os.path.basename(new_dir))


def start(
    stream: DataFrame,
    checkpoint_path: str,
    apply: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Run ``apply(batch_df, batch_id)`` on every micro-batch of
    ``stream`` until the data available at start is drained."""
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
