"""Streaming sketch maintenance: a count-min sketch kept current over a
stream, one micro-batch merge at a time.

Sketches are the streaming-native aggregate: a CMS increment is additive,
so maintaining one over a stream is ``merge(current, build(batch))`` per
micro-batch -- no retraction, no watermark, O(depth x width) state no
matter how many items flow through. This module wires operators/cms.py's
build/merge (whose mergeability contract -- build(X ∪ Y) ==
merge(build(X), build(Y)) -- pytest already pins) into the shared
snapshot-pointer sink (streaming/snapshots.py), so readers always see a
complete sketch. A CMS merge is ADDITIVE, so that sink's replay guard is
what keeps a crash-window redelivery from double-counting.

The parity test asserts the operational claim end-to-end: the streamed
sketch's cells equal a batch build over the whole fixture, bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.cms import cms_build, cms_estimate, cms_merge
from .snapshots import commit, current_snapshot_dir, read_current, start

_CELL_SCHEMA = "i int, col bigint, c bigint"


def read_sketch(spark, sink_root: str) -> DataFrame:
    """The current committed sketch (empty, well-typed, before the first
    commit)."""
    return read_current(spark, sink_root, _CELL_SCHEMA)


def apply_cms_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    item_col: str,
    sink_root: str,
    depth: int = 4,
    width: int = 1024,
) -> None:
    """One micro-batch merge (module-level so the replay guard is
    directly testable)."""

    def write(new_dir: str) -> None:
        batch_cells = cms_build(batch_df, item_col, depth=depth, width=width)
        merged = cms_merge(read_sketch(spark, sink_root), batch_cells)
        merged.write.mode("overwrite").parquet(new_dir)

    commit(sink_root, batch_id, write)


def start_cms_maintenance(
    items_stream: DataFrame,
    item_col: str,
    sink_root: str,
    checkpoint_path: str,
    depth: int = 4,
    width: int = 1024,
) -> StreamingQuery:
    """Maintain the sketch over a stream of items. Returns the query
    handle; read the live sketch via ``read_sketch``."""
    spark = items_stream.sparkSession
    return start(
        items_stream,
        checkpoint_path,
        lambda df, batch_id: apply_cms_batch(
            spark, df, batch_id, item_col, sink_root,
            depth=depth, width=width,
        ),
    )


# --- Streaming sketch dashboard: per-window HLL + heavy hitters --------------

_DICT_SCHEMA = "window_start timestamp, item string"
_HLL_SCHEMA = "window_start timestamp, bucket bigint, reg int"


def _dashboard_key(window_col: str, item_col: str):
    """Composite CMS item key: the window is folded into the hashed key
    (cms cells are group-less by design), so one O(depth x width) grid
    serves every window; estimates just use the same composite key."""
    from pyspark.sql import functions as F

    return F.concat_ws(
        "\x01", F.col(window_col).cast("string"), F.col(item_col)
    )


def read_dashboard(spark, sink_root: str) -> dict[str, DataFrame]:
    """The committed dashboard state: 'hll' (per-window distinct-user
    registers), 'cms' (heavy-hitter counts over window-composited keys),
    'dict' (the exact candidate dictionary the top-k extraction scans).
    Empty, well-typed frames before the first commit."""
    cur = current_snapshot_dir(sink_root)
    if cur is None:
        return {
            "hll": spark.createDataFrame([], _HLL_SCHEMA),
            "cms": spark.createDataFrame([], _CELL_SCHEMA),
            "dict": spark.createDataFrame([], _DICT_SCHEMA),
        }
    return {
        "hll": spark.read.schema(_HLL_SCHEMA).parquet(f"{cur}/hll"),
        "cms": spark.read.schema(_CELL_SCHEMA).parquet(f"{cur}/cms"),
        "dict": spark.read.schema(_DICT_SCHEMA).parquet(f"{cur}/dict"),
    }


def dashboard_batch_state(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    item_col: str = "event_type",
    depth: int = 4,
    width: int = 1024,
) -> dict[str, DataFrame]:
    """The BATCH definition of the dashboard state over a static frame --
    the stream==batch parity anchor (the maintained state must equal
    this, bit for bit, after the last micro-batch)."""
    from pyspark.sql import functions as F

    from ..operators.hll import hll_registers

    win = events.withColumn(
        "window_start", F.date_trunc("hour", F.col(ts_col))
    )
    hll = hll_registers(
        win.select("window_start", F.col(user_col).cast("string").alias("_u")),
        "_u",
        group_cols=["window_start"],
    )
    keyed = win.select(
        "window_start",
        F.col(item_col).alias("item"),
        _dashboard_key("window_start", item_col).alias("_k"),
    )
    cms = cms_build(keyed, "_k", depth=depth, width=width)
    dct = keyed.select("window_start", "item").distinct()
    return {"hll": hll, "cms": cms, "dict": dct}


def apply_dashboard_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    sink_root: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
    item_col: str = "event_type",
    depth: int = 4,
    width: int = 1024,
) -> None:
    """One micro-batch: merge the batch's per-window HLL registers
    (element-wise max -- idempotent, but still behind the guard so the
    three tables stay mutually consistent), CMS cells (ADDITIVE -- the
    replay guard is what makes redelivery safe), and dictionary rows
    (set union) into the current snapshot; write all three under one new
    snapshot dir, committed by the single pointer swap so readers always
    see a consistent triple."""
    from ..operators.hll import hll_merge

    def write(new_dir: str) -> None:
        state = read_dashboard(spark, sink_root)
        inc = dashboard_batch_state(
            batch_df, ts_col, user_col, item_col, depth, width
        )
        new_hll = hll_merge(
            state["hll"], inc["hll"], group_cols=["window_start"]
        )
        new_cms = cms_merge(state["cms"], inc["cms"])
        new_dict = state["dict"].unionByName(inc["dict"]).distinct()
        new_hll.write.mode("overwrite").parquet(f"{new_dir}/hll")
        new_cms.write.mode("overwrite").parquet(f"{new_dir}/cms")
        new_dict.write.mode("overwrite").parquet(f"{new_dir}/dict")

    commit(sink_root, batch_id, write)


def start_dashboard_maintenance(
    events_stream: DataFrame,
    sink_root: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
    item_col: str = "event_type",
    depth: int = 4,
    width: int = 1024,
) -> StreamingQuery:
    """Maintain the per-window distinct-user (HLL) + heavy-hitter (CMS)
    dashboard over a stream: the sketch family's streaming-twin
    composition. Read the live state via read_dashboard / dashboard_topk."""
    spark = events_stream.sparkSession
    return start(
        events_stream,
        checkpoint_path,
        lambda df, batch_id: apply_dashboard_batch(
            spark, df, batch_id, sink_root, ts_col, user_col, item_col,
            depth, width,
        ),
    )


def dashboard_topk(
    spark,
    sink_root: str,
    k: int = 3,
    m: int = 256,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """The dashboard VIEW over the committed snapshot -- runs identically
    on stream-maintained or batch-built state."""
    return dashboard_view(
        read_dashboard(spark, sink_root), k=k, m=m, depth=depth, width=width
    )


def dashboard_view(
    state: dict[str, DataFrame],
    k: int = 3,
    m: int = 256,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Per window: the HLL distinct-user estimate and the top-k
    heavy-hitter items by CMS estimate (deterministic (count DESC, item)
    order). Pure composition over a state triple -- the same function
    serves the streaming sink's snapshot and an inline batch build
    (which is how the events_dashboard_topk gate query runs it)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ..operators.hll import hll_estimate
    est = hll_estimate(state["hll"], group_cols=["window_start"], m=m)
    cand = state["dict"].select(
        "window_start",
        "item",
        _dashboard_key("window_start", "item").alias("_k"),
    )
    counts = cms_estimate(
        state["cms"], cand, "_k", depth=depth, width=width
    )  # carries (window_start, item, _k, cms_est)
    ranked = (
        counts.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("window_start").orderBy(
                    F.col("cms_est").desc(), F.col("item")
                )
            ),
        )
        .where(F.col("rank") <= k)
        .select(
            "window_start", "item", "rank",
            F.col("cms_est").alias("est_count"),
        )
    )
    return ranked.join(est, "window_start").select(
        "window_start", "hll_estimate", "item", "rank", "est_count"
    )


# --- Streaming quantile-sketch maintenance -----------------------------------

_QCELL_SCHEMA = "e int, m bigint, cnt bigint"


def read_qsketch(spark, sink_root: str) -> DataFrame:
    """The current committed quantile-sketch cell table (empty,
    well-typed, before the first commit)."""
    return read_current(spark, sink_root, _QCELL_SCHEMA)


def apply_qsketch_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    value_col: str,
    sink_root: str,
    sub_bits: int = 8,
    scale: int = 100,
) -> None:
    """One micro-batch merge for the quantile sketch. Cell counts are
    ADDITIVE, exactly like CMS."""
    from ..operators.quantile import qsketch_build, qsketch_merge

    def write(new_dir: str) -> None:
        batch_cells = qsketch_build(
            batch_df, value_col, sub_bits=sub_bits, scale=scale
        )
        merged = qsketch_merge(read_qsketch(spark, sink_root), batch_cells)
        merged.write.mode("overwrite").parquet(new_dir)

    commit(sink_root, batch_id, write)


def start_qsketch_maintenance(
    values_stream: DataFrame,
    value_col: str,
    sink_root: str,
    checkpoint_path: str,
    sub_bits: int = 8,
    scale: int = 100,
) -> StreamingQuery:
    """Maintain running quantiles over a stream: the quantile rung's
    streaming twin, completing the sketch family's streaming column
    (HLL + CMS live in the dashboard; Bloom's streaming use is the
    ingest prefilter). Read live percentiles via read_qsketch +
    operators/quantile.qsketch_quantiles."""
    spark = values_stream.sparkSession
    return start(
        values_stream,
        checkpoint_path,
        lambda df, batch_id: apply_qsketch_batch(
            spark, df, batch_id, value_col, sink_root,
            sub_bits=sub_bits, scale=scale,
        ),
    )
