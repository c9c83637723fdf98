"""Incremental ANN index maintenance: keep an IVF cell index current
over a STREAM of new vectors.

The batch ANN family (operators/similarity.py) rebuilds its index
structures per query -- fine for a gate corpus, wrong for a production
corpus that grows continuously. The standard production split (every
faiss/SCaNN deployment): the COARSE QUANTIZER is trained offline on a
representative sample and then FROZEN (retraining it would silently
re-shuffle every existing assignment), while the ASSIGNMENT TABLE
(vector -> cell) grows online, one micro-batch at a time. This module
implements exactly that split on the shared snapshot-pointer sink
(streaming/snapshots.py):

  * train_quantizer -- distributed per-label centroid means
    (operators/similarity.label_centroids, one (K x dim) shuffle); only
    the kilobyte-sized quantizer table reaches the driver, and it is
    persisted as JSON beside the sink so restarts and readers share the
    EXACT floats the assignments were built with.
  * apply_index_batch -- assign the batch's vectors to their nearest
    cell (ivf_assign: one JVM-side transform over the broadcast-literal
    centroid matrix, no Python per row), anti-join already-indexed
    vec_ids away (data-level dedup -- a bag union would duplicate a
    vector re-sent under a later batch id), union with the current
    snapshot, commit it as snap_{batch_id} (streaming/snapshots.py).
  * search: read_index joins the maintained (vec_id, cell) table
    against the probe cells of a query -- the same equi-join shape
    ivf_topk plans, now against state that did NOT require touching the
    historical corpus to update.

Scale posture: per micro-batch the work is O(batch x K) assignment
(map-side; centroids are literals in the plan) plus the snapshot
rewrite. The whole-snapshot rewrite is the toy-sink simplification
(same note as merge_sink: a real table format appends a partition and
commits metadata); the ASSIGNMENT shape -- new vectors never re-scan
old ones -- is the part that carries to 100 TB.

The parity test pins: streamed index == one-shot batch assignment of
the full fixture (bit-for-bit), replay no-op, and restart continuity
on the same checkpoint.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.similarity import ivf_assign, ivf_centroid_arrays
from .snapshots import commit, read_current, start

_INDEX_SCHEMA = "vec_id bigint, cell int"
_QUANTIZER = "_QUANTIZER.json"


def train_quantizer(
    corpus: DataFrame,
    sink_root: str,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """Offline quantizer training; persists the centroid table beside
    the sink so every later writer/reader assigns with identical
    floats."""
    cents = ivf_centroid_arrays(corpus, label_col, vec_col, dim)
    os.makedirs(sink_root, exist_ok=True)
    tmp = os.path.join(sink_root, _QUANTIZER + ".tmp")
    with open(tmp, "w") as f:
        json.dump(cents, f)
    os.replace(tmp, os.path.join(sink_root, _QUANTIZER))
    return cents


def load_quantizer(sink_root: str) -> list[tuple[int, list[float]]]:
    with open(os.path.join(sink_root, _QUANTIZER)) as f:
        return [(int(lab), [float(x) for x in c]) for lab, c in json.load(f)]


def read_index(spark, sink_root: str) -> DataFrame:
    """The current committed assignment table (empty, well-typed,
    before the first commit)."""
    return read_current(spark, sink_root, _INDEX_SCHEMA)


def apply_index_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    sink_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of new vectors into the index.

    Data-level dedup: the pointer guard only covers whole-batch
    redelivery; a vec_id arriving again in a LATER batch id (source
    overlap) would duplicate under a bag union, inflating per-cell
    occupancy and search results. New assignments are therefore
    anti-joined against the current index on vec_id -- first write
    wins, which equals last-write-wins because corpus vectors are
    immutable (an UPDATED vector is out of contract for an IVF index;
    route updates through a delete+reinsert compaction instead)."""

    def write(new_dir: str) -> None:
        cents = load_quantizer(sink_root)
        assigned = batch_df.select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            ivf_assign(vec_col, cents).cast("int").alias("cell"),
        )
        existing = read_index(spark, sink_root)
        # no broadcast hint: the build side is the FULL index key set,
        # which grows with the corpus -- AQE picks broadcast while it is
        # small and degrades to shuffle anti-join when it is not
        fresh = assigned.join(
            existing.select("vec_id"), on="vec_id", how="left_anti"
        )
        merged = existing.unionByName(fresh)
        merged.write.mode("overwrite").parquet(new_dir)

    commit(sink_root, batch_id, write)


def start_index_maintenance(
    vectors_stream: DataFrame,
    sink_root: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Maintain the IVF assignment table over a stream of new vectors.
    ``train_quantizer`` must have run against this sink_root first (the
    frozen-quantizer contract)."""
    spark = vectors_stream.sparkSession
    load_quantizer(sink_root)  # fail fast if training never happened
    return start(
        vectors_stream,
        checkpoint_path,
        lambda df, batch_id: apply_index_batch(
            spark, df, batch_id, sink_root, id_col, vec_col
        ),
    )
