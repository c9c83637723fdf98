"""Structured Streaming surface.

The reference is a hand-rolled micro-batch loop (page-at-a-time fetch,
batched insert, sleep-based throttling -- reference etl_service/main.py:
163-211, 240-253). Here the same semantics run under Structured Streaming:

* replay     -- turn a fixture table into a file stream (micro-batch replay).
* windows    -- watermarked tumbling / sliding / session window aggregations;
                the SAME functions run on batch DataFrames, which is how the
                tests cross-check stream vs batch results.
* ingest     -- foreachBatch incremental sink: per-batch anti-join vs what is
                already in the sink => idempotent, at-least-once upgraded to
                effectively-once (reference ST1, SURVEY.md §2.7).
* stateful   -- applyInPandasWithState custom operator (per-key running
                aggregation with timeout), the Spark-native form of the
                reference's in-memory per-user accumulation (main.py:158-214).
* snapshots  -- the snapshot-pointer commit (replay guard, atomic pointer
                swap) and the foreachBatch starter every streaming twin
                (merge_sink, matview, sketches, indexes) shares.
"""

from .replay import replay_events_stream, write_replay_dir
from .windows import session_counts, sliding_counts, tumbling_counts
from .ingest import start_incremental_ingest
from .stateful import running_ewma, running_user_counts
from .dedup import dedup_events
from .joins import interval_join_pairs

__all__ = [
    "replay_events_stream",
    "write_replay_dir",
    "tumbling_counts",
    "sliding_counts",
    "session_counts",
    "start_incremental_ingest",
    "running_ewma",
    "running_user_counts",
]
