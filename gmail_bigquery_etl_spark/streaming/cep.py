"""Streaming CEP: per-key event sequences maintained over a stream.

The batch operator (operators/sequence.py) compiles per-key history into
label strings and regex-matches them; the streaming form keeps that
history LIVE: each micro-batch's (ts, tiebreak, label) triples append to
per-key state arrays under the shared snapshot-pointer sink
(streaming/snapshots.py), and
the match view sorts-then-stringifies at read time. Storing triples
rather than pre-built strings makes the sink ORDER-INSENSITIVE across
batches -- late or interleaved arrivals land in the right position at
view time, so stream==batch holds for ANY batch partitioning, not just
time-ordered replay (the property the stream==batch gate pins by feeding
batches split by key hash, deliberately NOT by time).

State is O(events) per key -- inherent to full-history pattern matching;
a production deployment bounds it with the same retention a
MATCH_RECOGNIZE window clause implies (drop triples older than the
pattern's horizon at apply time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sequence import match_counts
from .snapshots import commit, read_current, start

_STATE_SCHEMA = (
    "key string, evs array<struct<ts:timestamp,tb:string,c:string>>"
)


def read_cep_state(spark, sink_root: str) -> DataFrame:
    return read_current(spark, sink_root, _STATE_SCHEMA)


def apply_cep_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    sink_root: str,
    key: str,
    ts_col: str,
    tiebreak: str,
    label,
) -> None:
    """Append one micro-batch's labeled events to per-key state. Merge is
    a full-outer join + array concat -- a key never re-reads other keys'
    history, and an absent side contributes an empty array."""

    def write(new_dir: str) -> None:
        batch_evs = (
            batch_df.select(
                F.col(key).cast("string").alias("key"),
                F.struct(
                    F.col(ts_col).alias("ts"),
                    # zero-padded so STRING order == numeric order (type-
                    # stable state across heterogeneous upstreams;
                    # tiebreak contract: non-negative)
                    F.lpad(F.col(tiebreak).cast("string"), 20, "0").alias(
                        "tb"
                    ),
                    label.alias("c"),
                ).alias("s"),
            )
            .groupBy("key")
            .agg(F.collect_list("s").alias("new_evs"))
        )
        state = read_cep_state(spark, sink_root)
        empty = F.array().cast(
            "array<struct<ts:timestamp,tb:string,c:string>>"
        )
        merged = (
            state.join(batch_evs, "key", "full_outer")
            .select(
                "key",
                F.concat(
                    F.coalesce("evs", empty), F.coalesce("new_evs", empty)
                ).alias("evs"),
            )
        )
        merged.write.mode("overwrite").parquet(new_dir)

    commit(sink_root, batch_id, write)


def cep_match_view(spark, sink_root: str, pattern: str) -> DataFrame:
    """(key, seq_len, n_matches) over the committed state: sort each
    key's triples (struct order = (ts, tb) since tb is part of the
    struct), project labels, concat, regex -- identical semantics to the
    batch operator on the same events."""
    seqs = read_cep_state(spark, sink_root).select(
        "key",
        F.array_join(
            F.transform(F.array_sort("evs"), lambda x: x["c"]), ""
        ).alias("seq"),
    )
    return match_counts(seqs, pattern)


def start_cep_maintenance(
    events_stream: DataFrame,
    sink_root: str,
    checkpoint_path: str,
    key: str,
    ts_col: str,
    tiebreak: str,
    label,
) -> StreamingQuery:
    spark = events_stream.sparkSession
    return start(
        events_stream,
        checkpoint_path,
        lambda df, batch_id: apply_cep_batch(
            spark, df, batch_id, sink_root, key, ts_col, tiebreak, label
        ),
    )
