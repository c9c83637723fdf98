"""Incremental materialized-view maintenance (IVM): keep a GROUP BY
aggregate view current under a stream of insert/retract deltas.

The CDC merge sink (merge_sink.py) maintains a ROW-level table from
post-images; the other classic warehouse maintenance problem is the
AGGREGATE view: ``SELECT g, COUNT(*), SUM(x) FROM base GROUP BY g``
kept current as base rows arrive AND leave, without ever re-scanning
base. This module implements the textbook counting algorithm (Gupta,
Mumick & Subrahmanian, "Maintaining Views Incrementally", SIGMOD 1993):
each delta row carries a multiplicity (``mult`` = +1 insert, -1
retract); per micro-batch the delta is pre-aggregated to per-group
(d_cnt, d_sums), added onto the current view state, and groups whose
maintained count reaches zero are REMOVED (the counting algorithm's
termination rule -- a group must disappear when its last supporting row
retracts, which a naive sum-merge cannot know).

COUNT and SUM are self-maintainable under insert+retract, so the view
never touches base -- per batch the work is O(delta) + one merge
against O(groups) state. MIN/MAX are NOT self-maintainable (retracting
the current minimum requires knowing the runner-up), so they get the
textbook auxiliary structure instead: maintain the counting view keyed
on (group, value) -- a per-group SUPPORT HISTOGRAM -- and take
``read_minmax_view``'s MIN/MAX over the values still holding support
at read time. State is O(distinct (group, value)) rather than
O(groups); for a value domain too wide for that, quantize the value
column first (the quantile sketch's cents/cell discipline) and accept
bounded error -- exactness and bounded state are the two ends of the
same knob.

Measures are maintained in EXACT integer units (e.g. cents as bigint):
additive maintenance in floating point would drift away from the
recompute-from-scratch answer it is supposed to equal, and the parity
contract here is exact: pytest pins stream==batch bit-for-bit, and the
gated query's oracle recomputes the final view relationally.

Sink discipline: the shared snapshot-pointer protocol
(streaming/snapshots.py). Delta application is ADDITIVE, so its replay
guard is what keeps a crash-window redelivery (batch committed to the
sink but not to the stream checkpoint) from being applied twice.
Retention/vacuum and time travel come for free from
merge_sink.list_versions/vacuum (the sink layout is identical).

Scale posture: the per-batch plan is one partial+final hash aggregate
over the delta (shuffle on the group key, map-side combine) plus a
groupBy-sum merge whose other input is O(live groups). At 100 TB of
history the view state is proportional to GROUP cardinality, not row
count; a real table format would shard the state table by group-key
range -- the maintenance algebra here carries unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .snapshots import commit, current_snapshot_dir, read_current, start


def read_view(spark, sink_root: str, schema: str | None = None) -> DataFrame:
    """The current committed view state. Before the first commit an
    explicit ``schema`` (DDL string) is required to return an empty,
    well-typed frame; without one the parquet schema is read."""
    return read_current(spark, sink_root, schema)


def apply_view_delta(
    spark,
    delta_df: DataFrame,
    batch_id: int,
    sink_root: str,
    group_cols: list[str],
    measure_cols: list[str],
    mult_col: str = "mult",
) -> None:
    """One maintenance step (module-level so batch callers and tests
    drive the exact code path the streaming wrapper runs): pre-aggregate
    the delta, add onto current state, drop zero-count groups, commit
    the result as ``snap_{batch_id}``.

    ``delta_df`` columns: group_cols + measure_cols (exact integer
    units) + ``mult_col`` (+1 insert / -1 retract; any nonzero integer
    multiplicity works -- a pre-aggregated upstream can send k).
    Maintained state: group_cols, ``n_rows`` (sum of mult), and one
    summed column per measure (same name)."""

    def write(new_dir: str) -> None:
        partial = delta_df.groupBy(*group_cols).agg(
            F.sum(mult_col).cast("bigint").alias("n_rows"),
            *[
                F.sum(F.col(c) * F.col(mult_col)).cast("bigint").alias(c)
                for c in measure_cols
            ],
        )
        cur = current_snapshot_dir(sink_root)
        if cur is not None:
            state = spark.read.parquet(cur)
            partial = (
                state.unionByName(partial)
                .groupBy(*group_cols)
                .agg(
                    F.sum("n_rows").cast("bigint").alias("n_rows"),
                    *[
                        F.sum(c).cast("bigint").alias(c)
                        for c in measure_cols
                    ],
                )
            )
        # counting-algorithm termination: a group whose support count
        # hits zero leaves the view (its sums are zero too for
        # well-formed deltas; keeping the row would resurrect dead
        # groups in readers)
        merged = partial.where(F.col("n_rows") != 0)
        merged.write.mode("overwrite").parquet(new_dir)

    commit(sink_root, batch_id, write)


def read_minmax_view(
    spark,
    sink_root: str,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """MIN/MAX over a support-histogram view: the sink must have been
    maintained with ``group_cols = [*groups, value_col]`` (one counting
    row per distinct (group, value)). Retractions that kill the current
    extremum automatically expose the runner-up, because the histogram
    keeps every value with live support. One O(state) aggregate; no
    base-table access."""
    hist = read_view(spark, sink_root)
    return hist.groupBy(*group_cols).agg(
        F.min(value_col).alias(f"min_{value_col}"),
        F.max(value_col).alias(f"max_{value_col}"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
    )


def start_view_maintenance(
    deltas_stream: DataFrame,
    sink_root: str,
    checkpoint_path: str,
    group_cols: list[str],
    measure_cols: list[str],
    mult_col: str = "mult",
) -> StreamingQuery:
    """Maintain the aggregate view over a stream of deltas. Returns the
    query handle; read the result via ``read_view``."""
    spark = deltas_stream.sparkSession
    return start(
        deltas_stream,
        checkpoint_path,
        lambda df, batch_id: apply_view_delta(
            spark, df, batch_id, sink_root, group_cols, measure_cols,
            mult_col=mult_col,
        ),
    )
