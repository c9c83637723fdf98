"""Structured Streaming tests (SURVEY.md §5 item 5).

Strategy: replay the ``events`` fixture as a time-ordered file stream
(one chunk per micro-batch), run the SAME window/ingest/stateful code the
batch corpus uses, and diff the streamed result against the batch result
computed directly on the static fixture. Uses sf0.001 so the full replay
fits in seconds.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from gmail_bigquery_etl_spark.catalog import load_table
from gmail_bigquery_etl_spark.sources.synthetic import (
    gmail_messages_from_events,
    messages_from_events_df,
)
from gmail_bigquery_etl_spark.streaming import (
    replay_events_stream,
    running_user_counts,
    session_counts,
    sliding_counts,
    start_incremental_ingest,
    tumbling_counts,
    write_replay_dir,
)

SMOKE_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("replay") / "events")
    return write_replay_dir(spark, SMOKE_SF, out, chunks=6)


def _rows(df, keys):
    return sorted(df.collect(), key=lambda r: tuple(str(r[k]) for k in keys))


def _run_to_completion(stream_df, sink_dir, checkpoint_dir):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive


@pytest.mark.parametrize(
    "agg_fn,keys",
    [
        (tumbling_counts, ["window_start", "event_type"]),
        (sliding_counts, ["window_start"]),
        (session_counts, ["user_id", "session_start"]),
    ],
    ids=["tumbling", "sliding", "session"],
)
def test_windowed_agg_stream_matches_batch(
    spark, replay_dir, tmp_path, agg_fn, keys
):
    """Streamed watermarked window agg == the same agg on the static fixture,
    restricted to windows the final watermark has closed. Append mode only
    emits a window once watermark (= global max ts - 30 min delay) passes its
    end, so windows inside the final delay stay in state -- exact documented
    late-data semantics, not a bug."""
    stream = replay_events_stream(spark, replay_dir)
    out = str(tmp_path / "out")
    _run_to_completion(agg_fn(stream), out, str(tmp_path / "ckpt"))

    events = load_table(spark, SMOKE_SF, "events")
    cutoff = events.agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w")
    ).collect()[0].w
    end_col = "session_end" if "session_start" in keys else "window_end"

    got = spark.read.parquet(out)
    want = agg_fn(events).filter(F.col(end_col) <= F.lit(cutoff))
    assert got.filter(F.col(end_col) > F.lit(cutoff)).count() == 0
    assert _rows(got, keys) == _rows(want, keys)


def test_streaming_ingest_matches_batch_and_is_idempotent(spark, tmp_path):
    """foreachBatch incremental ingest over a replayed messages stream ends
    with exactly the batch-ingest result; a second full replay (fresh
    checkpoint, same sink) adds zero rows -- the reference's read-side dedup
    semantics (etl_service/main.py:175) under Structured Streaming."""
    msgs_replay = str(tmp_path / "msgs")
    gmail_messages_from_events(spark, SMOKE_SF).orderBy("id").coalesce(
        4
    ).write.parquet(msgs_replay)

    schema = spark.read.parquet(msgs_replay).schema
    sink = str(tmp_path / "sink")

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(msgs_replay)
        )
        q = start_incremental_ingest(stream, sink, str(tmp_path / ckpt))
        q.awaitTermination(300)
        assert not q.isActive

    run("ckpt1")
    result = spark.read.parquet(sink)
    ids = [r.id for r in result.select("id").collect()]
    assert len(ids) == len(set(ids)), "duplicate ids in streaming sink"

    batch_msgs = gmail_messages_from_events(spark, SMOKE_SF)
    from gmail_bigquery_etl_spark.operators.incremental import ingest_increment

    want = ingest_increment(
        batch_msgs, spark.createDataFrame([], "id string")
    )
    assert sorted(ids) == sorted(r.id for r in want.select("id").collect())

    # replay again from scratch: anti-join vs the now-populated sink => no-op
    run("ckpt2")
    assert spark.read.parquet(sink).count() == len(ids)


def test_stateful_running_counts_final_state_matches_batch(
    spark, replay_dir, tmp_path
):
    """applyInPandasWithState per-user running totals: the LAST update emitted
    per user equals the batch groupBy over the whole fixture."""
    stream = replay_events_stream(spark, replay_dir)
    updates = running_user_counts(stream)
    out = str(tmp_path / "out")

    # update-mode operator: land each micro-batch's updates via foreachBatch
    # (parquet sinks don't take update mode directly)
    def save_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        updates.writeStream.foreachBatch(save_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.read.parquet(out)
    # last emitted update per user = the one with the max running count
    final = (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select("user_id", "s.n_events", "s.total_value")
    )
    want = (
        load_table(spark, SMOKE_SF, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    got_rows = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in final.collect()
    }
    want_rows = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in want.collect()
    }
    assert got_rows == want_rows


def test_messages_transform_is_stream_capable(spark, replay_dir):
    """The events->messages mapping used by ingest is a pure transform that
    Spark accepts on a streaming DataFrame (no batch-only ops)."""
    stream = replay_events_stream(spark, replay_dir)
    msgs = messages_from_events_df(stream)
    assert msgs.isStreaming
    assert "headers" in msgs.columns and "id" in msgs.columns


def test_stateful_counts_survive_checkpoint_restart(spark, tmp_path):
    """State-store recovery: process half the corpus, stop the query, land
    the other half, restart a NEW query on the SAME checkpoint.

    The final per-user totals equal the batch aggregate over the whole
    fixture -- which is only possible if the restarted query (a) restored
    every user's running state from the state store (lost state would
    leave first-half-only users short) and (b) did not replay already-
    committed files (reprocessing would double-count). Mirrors the
    source-replay restart test above, but for OPERATOR STATE rather than
    sink idempotence."""
    ev = load_table(spark, SMOKE_SF, "events")
    live = str(tmp_path / "live")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # deterministic mid-corpus split; both halves hit overlapping users so
    # recovery actually has state to restore
    ev.filter(F.col("event_id") % 2 == 0).coalesce(2).write.parquet(live)

    def save_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    def run_phase():
        stream = replay_events_stream(spark, live)
        q = (
            running_user_counts(stream)
            .writeStream.foreachBatch(save_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise AssertionError("phase did not drain in time")
        q.stop()  # kill: phase-2 starts from the checkpoint alone

    run_phase()
    phase1 = spark.read.parquet(out)
    # the other half "arrives" while the query is down
    ev.filter(F.col("event_id") % 2 == 1).coalesce(2).write.mode(
        "append"
    ).parquet(live)
    run_phase()

    got = spark.read.parquet(out)
    final = (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select("user_id", "s.n_events", "s.total_value")
    )
    want = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )
    got_rows = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in final.collect()
    }
    want_rows = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in want.collect()
    }
    assert got_rows == want_rows
    # direct evidence of restored (not recomputed) state: some user's
    # phase-1 running count strictly grew across the restart
    p1 = {
        r.user_id: r.n_events
        for r in phase1.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    grew = [u for u, n in p1.items() if got_rows[u][0] > n]
    assert grew, "no user's state advanced across the restart"


def test_streaming_dedup_within_watermark_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark (streaming/dedup.py): replay the
    corpus where EVERY chunk is delivered twice (the source retransmits),
    and the streamed output still equals the batch distinct of the
    fixture. Duplicates of recent rows exercise the dedup state store;
    duplicates older than the watermark horizon are dropped as late data
    -- either mechanism yields exactly-once, and the diff proves it."""
    from gmail_bigquery_etl_spark.streaming.dedup import dedup_events

    live = str(tmp_path / "live")
    out = str(tmp_path / "out")
    write_replay_dir(spark, SMOKE_SF, live, chunks=3)
    # retransmit: the same three time-ordered chunks arrive again
    ev = spark.read.parquet(live)
    ev.coalesce(1).write.mode("append").parquet(live)

    stream = replay_events_stream(spark, live)
    deduped = dedup_events(stream)
    assert deduped.isStreaming
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    got = spark.read.parquet(out)
    want = load_table(spark, SMOKE_SF, "events")
    assert got.count() == want.count(), "retransmissions leaked or rows lost"
    assert (
        got.select("event_id").distinct().count() == want.count()
    ), "duplicate event_ids in deduped stream output"
    # full-row equality, not just counts
    assert got.unionAll(want).distinct().count() == want.count()


def test_stream_stream_interval_join_matches_batch(spark, tmp_path, replay_dir):
    """Watermarked stream-stream interval join (streaming/joins.py): the
    purchase and click sides arrive as unbounded streams (two readers over
    the time-ordered replay), the join keeps bounded state via the
    2h watermarks, and the appended pair set equals the identical plan run
    on the static table."""
    from gmail_bigquery_etl_spark.streaming.joins import interval_join_pairs

    out = str(tmp_path / "pairs")
    stream = replay_events_stream(spark, replay_dir)
    pairs = interval_join_pairs(stream)
    assert pairs.isStreaming
    q = (
        pairs.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    got = spark.read.parquet(out)
    want = interval_join_pairs(load_table(spark, SMOKE_SF, "events"))
    assert got.count() == want.count()
    assert got.unionAll(want).distinct().count() == want.count()


def test_streaming_cdc_merge_apply_matches_sequential_batch(spark, tmp_path):
    """Streaming MERGE INTO (streaming/merge_sink.py): three time-ordered
    CDC batches with OVERLAPPING keys (later post-images must win) plus
    deletes, replayed one file per micro-batch; the final snapshot equals
    the same batches folded through the batch merge operator in order."""
    from pyspark.sql import functions as F

    from gmail_bigquery_etl_spark.operators.merge import merge_upsert
    from gmail_bigquery_etl_spark.streaming.merge_sink import (
        current_snapshot_dir,
        start_merge_apply,
    )

    orders = load_table(spark, SMOKE_SF, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    feed_dir = str(tmp_path / "feed")
    chunks = []
    for k, mod in enumerate((2, 3, 5)):
        chunk = orders.filter(F.col("o_orderkey") % mod == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") + 1000 * k).alias("o_totalprice"),
            # chunk 2 deletes every 10th key it touches
            ((F.lit(k) == 2) & (F.col("o_orderkey") % 10 == 0)).alias(
                "is_delete"
            ),
        )
        chunks.append(chunk)
        chunk.coalesce(1).write.mode(
            "overwrite" if k == 0 else "append"
        ).parquet(feed_dir)

    schema = spark.read.parquet(feed_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    sink_root = str(tmp_path / "sink")
    q = start_merge_apply(
        stream, sink_root, str(tmp_path / "ckpt"), keys=["o_orderkey"]
    )
    assert q.awaitTermination(300)

    got = spark.read.parquet(current_snapshot_dir(sink_root))

    expected = spark.createDataFrame(
        [], "o_orderkey bigint, o_totalprice double"
    )
    for chunk in chunks:
        expected = merge_upsert(
            expected, chunk, ["o_orderkey"], delete_col="is_delete"
        )

    assert got.count() == expected.count()
    assert got.unionAll(expected).distinct().count() == expected.count()
    # later post-image won: a key in chunks 0 AND 1 carries the +1000 price
    overlap = got.filter(F.col("o_orderkey") % 6 == 0).join(
        orders.withColumnRenamed("o_totalprice", "orig"), "o_orderkey"
    )
    n_bad = overlap.filter(
        F.col("o_totalprice") != F.col("orig") + 1000
    ).filter(F.col("o_orderkey") % 5 != 0).count()
    assert n_bad == 0


def test_cdc_merge_sink_restart_continues_from_checkpoint(spark, tmp_path):
    """CDC merge sink across a restart: run batch 1 to completion, then
    land two MORE change files and restart a new query on the SAME
    checkpoint. The final snapshot must equal the three batches folded
    sequentially -- possible only if the restarted query (a) skipped the
    already-applied batch and (b) applied exactly the two new ones on top
    of the surviving snapshot pointer."""
    from pyspark.sql import functions as F

    from gmail_bigquery_etl_spark.operators.merge import merge_upsert
    from gmail_bigquery_etl_spark.streaming.merge_sink import (
        current_snapshot_dir,
        start_merge_apply,
    )

    orders = load_table(spark, SMOKE_SF, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    feed_dir = str(tmp_path / "feed")
    sink_root = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def chunk(k: int, mod: int):
        return orders.filter(F.col("o_orderkey") % mod == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") + 1000 * k).alias("o_totalprice"),
            ((F.lit(k) == 2) & (F.col("o_orderkey") % 10 == 0)).alias(
                "is_delete"
            ),
        )

    def run():
        schema = spark.read.parquet(feed_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        q = start_merge_apply(stream, sink_root, ckpt, keys=["o_orderkey"])
        assert q.awaitTermination(300)

    chunks = [chunk(0, 2), chunk(1, 3), chunk(2, 5)]
    chunks[0].coalesce(1).write.mode("overwrite").parquet(feed_dir)
    run()  # phase 1: only batch 0 exists
    snap1 = spark.read.parquet(current_snapshot_dir(sink_root))
    assert snap1.count() == chunks[0].count()

    for c in chunks[1:]:
        c.coalesce(1).write.mode("append").parquet(feed_dir)
    run()  # restart on the same checkpoint

    got = spark.read.parquet(current_snapshot_dir(sink_root))
    expected = spark.createDataFrame(
        [], "o_orderkey bigint, o_totalprice double"
    )
    for c in chunks:
        expected = merge_upsert(expected, c, ["o_orderkey"], delete_col="is_delete")
    assert got.count() == expected.count()
    assert got.unionAll(expected).distinct().count() == expected.count()


def test_stream_stream_left_outer_interval_join(spark, tmp_path, replay_dir):
    """LEFT OUTER stream-stream interval join: purchases with no click in
    the preceding hour surface as null-click rows, emitted only after the
    watermark passes their match window. Compared to the batch twin on the
    watermark-closed region (purchases older than max_ts - watermark);
    younger outer rows are legitimately still held back at end-of-run."""
    from pyspark.sql import functions as F

    from gmail_bigquery_etl_spark.streaming.joins import interval_join_pairs

    out = str(tmp_path / "pairs")
    stream = replay_events_stream(spark, replay_dir)
    pairs = interval_join_pairs(stream, join_type="left_outer")
    assert pairs.isStreaming
    q = (
        pairs.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    events = load_table(spark, SMOKE_SF, "events")
    # The global watermark is the MIN across both sides' watermark nodes
    # (purchases and clicks advance separately), and outer-row eviction
    # additionally waits out the join interval; stay strictly clear of
    # both bounds with an extra interval of margin.
    cutoff = (
        events.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg(
            (F.min("m") - F.expr("INTERVAL 3 HOURS")).alias("c")
        )
        .collect()[0]["c"]
    )

    got = spark.read.parquet(out).filter(F.col("p_ts") < F.lit(cutoff))
    want = interval_join_pairs(events, join_type="left_outer").filter(
        F.col("p_ts") < F.lit(cutoff)
    )
    # the closed region must agree exactly, including the null-click rows
    assert got.count() == want.count()
    assert got.unionAll(want).distinct().count() == want.count()
    # and outer rows actually exist (the join isn't silently inner)
    assert got.filter(F.col("c_ts").isNull()).count() > 0


def test_streaming_near_dup_ingest_matches_sequential_batch(spark, tmp_path):
    """ST1 + near-dup: three micro-batches (fresh corpus; copies/near-
    copies of batch 1 + fresh; copies of batch 2's survivors) stream
    through the near-dup ingest sink. The final snapshot must equal
    applying incremental_near_dup sequentially batch-by-batch -- i.e. the
    stream dedups against EARLIER BATCHES' survivors, not just the
    initial sink."""
    from gmail_bigquery_etl_spark.catalog import load_table
    from gmail_bigquery_etl_spark.operators.incremental import (
        incremental_near_dup,
    )
    from gmail_bigquery_etl_spark.streaming.dedup_ingest import (
        start_near_dup_ingest,
    )
    from gmail_bigquery_etl_spark.streaming.merge_sink import (
        current_snapshot_dir,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    b1 = docs
    b2 = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        .unionAll(
            docs.filter(F.col("doc_id") % 25 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat("text", F.lit(" near dup")).alias("text"),
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.lit("fresh"),
                    F.md5(F.col("doc_id").cast("string")),
                    F.md5((F.col("doc_id") + 1).cast("string")),
                ).alias("text"),
            )
        )
    )
    # batch 3: exact copies of batch 2's FRESH docs -- dupes only of rows
    # that entered the sink mid-stream.
    b3 = b2.filter(F.col("doc_id") >= 300000).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )

    src = str(tmp_path / "src")
    for i, b in enumerate((b1, b2, b3)):
        time.sleep(0.05)  # distinct mtimes: the file source orders by them
        b.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink_root = str(tmp_path / "sink")
    q = start_near_dup_ingest(
        stream, sink_root, str(tmp_path / "ckpt"), threshold=0.5
    )
    q.awaitTermination(300)
    assert not q.isActive
    got = {
        r.doc_id for r in spark.read.parquet(current_snapshot_dir(sink_root)).collect()
    }

    # Batch twin: the same operator applied sequentially.
    empty = spark.createDataFrame([], b1.schema)
    sink = empty
    for b in (b1, b2, b3):
        surv = (
            incremental_near_dup(b, sink, threshold=0.5)
            .filter("outcome = 'ingest'")
            .select("doc_id", "text")
        )
        sink = sink.unionAll(surv).localCheckpoint()
    want = {r.doc_id for r in sink.collect()}
    assert got == want
    # and the mid-stream dupes were actually refused
    assert not any(d >= 400000 for d in got)


def test_near_dup_ingest_restart_in_crash_window(spark, tmp_path):
    """A crash after the sink's pointer swap but before the stream's
    checkpoint commit: the restart redelivers the last batch, which the
    sink already holds. The pointer and the sink rows must stay as they
    were -- rewriting the snapshot the batch reads would fail the
    restart and lose the data."""
    from gmail_bigquery_etl_spark.streaming.dedup_ingest import (
        start_near_dup_ingest,
    )
    from gmail_bigquery_etl_spark.streaming.merge_sink import (
        current_snapshot_dir,
    )

    docs = (
        load_table(spark, SMOKE_SF, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    src = str(tmp_path / "src")
    for part in (docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")):
        time.sleep(0.05)  # distinct mtimes: the file source orders by them
        part.coalesce(1).write.mode("append").parquet(src)
    sink_root = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_near_dup_ingest(stream, sink_root, ckpt)
        q.awaitTermination(300)
        assert not q.isActive

    run()
    pointer = current_snapshot_dir(sink_root)
    rows = sorted(spark.read.parquet(pointer).collect())
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))

    run()
    assert current_snapshot_dir(sink_root) == pointer
    assert sorted(spark.read.parquet(pointer).collect()) == rows


def test_custom_timeout_sessionizer_matches_batch(spark, replay_dir, tmp_path):
    """Hand-rolled EventTimeTimeout sessionizer (streaming/sessions.py):
    every emitted session must equal a batch gaps-and-islands session
    exactly, and every session the final watermark could CLOSE (in-batch
    successor or timeout horizon passed) must have been emitted. This
    exercises both emission paths: in-batch close (a later event past the
    gap) and state-store timeout (watermark passes last_ts + gap)."""
    from gmail_bigquery_etl_spark.streaming.sessions import (
        GAP_MIN,
        batch_sessions,
        sessionize_stream,
    )

    stream = replay_events_stream(spark, replay_dir)
    out = str(tmp_path / "sess_out")
    _run_to_completion(
        sessionize_stream(stream), out, str(tmp_path / "sess_ckpt")
    )

    events = load_table(spark, SMOKE_SF, "events")
    want_all = batch_sessions(events)
    got = spark.read.parquet(out)
    keys = ["user_id", "session_start", "session_end", "n_events"]
    got_rows = _rows(got, keys[:3])
    want_rows = _rows(want_all, keys[:3])

    # 1. no invented sessions: emitted is a subset of the batch truth
    assert set(got_rows) <= set(want_rows)

    # 2. completeness on the closable region: final watermark = max ts -
    # 30 min delay; a session whose end + gap is before that horizon MUST
    # have timed out (and in-batch closes can only add to this).
    cutoff = events.agg(
        (
            F.max("ts")
            - F.expr("INTERVAL 30 MINUTES")
            - F.expr(f"INTERVAL {GAP_MIN} MINUTES")
        ).alias("w")
    ).collect()[0].w
    must_close = want_all.filter(F.col("session_end") <= F.lit(cutoff))
    assert set(_rows(must_close, keys[:3])) <= set(got_rows)
    assert must_close.count() > 0  # the gate is non-vacuous


def test_timeout_sessionizer_survives_checkpoint_restart(spark, tmp_path):
    """Session state-store recovery: stream the first (time-ordered) half
    of the corpus, stop, land the second half, restart on the same
    checkpoint. Sessions that STRADDLE the split only match the batch
    truth if the open-session state (start/last/count) was restored --
    lost state would emit a split session with a wrong start and count,
    which assertion (1) catches because such a row is not in the batch
    session set."""
    from gmail_bigquery_etl_spark.streaming.sessions import (
        GAP_MIN,
        batch_sessions,
        sessionize_stream,
    )

    ev = load_table(spark, SMOKE_SF, "events")
    live = str(tmp_path / "live")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_phase():
        stream = replay_events_stream(spark, live)
        q = (
            sessionize_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise AssertionError("phase did not drain in time")
        q.stop()

    # Split INSIDE the longest closable session (sessions are short at
    # this sf, so an arbitrary split instant straddles nothing): its open
    # state must then cross the restart through the state store.
    want_all = batch_sessions(ev)
    horizon = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 60 MINUTES")).alias("w")
    ).collect()[0].w
    longest = (
        want_all.filter(F.col("session_end") <= F.lit(horizon))
        .filter(F.col("n_events") >= 2)
        .orderBy(
            (F.unix_micros("session_end") - F.unix_micros("session_start")).desc()
        )
        .first()
    )
    split_ts = longest.session_start + (
        longest.session_end - longest.session_start
    ) / 2
    ev.filter(F.col("ts") <= F.lit(split_ts)).coalesce(2).write.parquet(live)
    run_phase()
    ev.filter(F.col("ts") > F.lit(split_ts)).coalesce(2).write.mode(
        "append"
    ).parquet(live)
    run_phase()

    got = spark.read.parquet(out)
    keys = ["user_id", "session_start", "session_end"]
    got_rows = set(_rows(got, keys))
    want_rows = set(_rows(want_all, keys))
    assert got_rows <= want_rows  # (1) no invented/corrupted sessions
    cutoff = ev.agg(
        (
            F.max("ts")
            - F.expr("INTERVAL 30 MINUTES")
            - F.expr(f"INTERVAL {GAP_MIN} MINUTES")
        ).alias("w")
    ).collect()[0].w
    must_close = want_all.filter(F.col("session_end") <= F.lit(cutoff))
    assert set(_rows(must_close, keys)) <= got_rows
    # straddling sessions existed and were recovered, not re-started: at
    # least one emitted session spans the split point
    straddle = got.filter(
        (F.col("session_start") <= F.lit(split_ts))
        & (F.col("session_end") > F.lit(split_ts))
    )
    assert straddle.count() > 0


def test_sessionizer_update_handles_newest_first_chunks():
    """applyInPandasWithState does not guarantee chunk arrival order for a
    group; a group delivered newest-chunk-first must still produce the
    batch-truth sessions (two sessions here, not one merged). Direct
    _update call -- the only way to force the adversarial chunk order."""
    import pandas as pd

    from gmail_bigquery_etl_spark.streaming.sessions import _update

    class _FakeState:
        hasTimedOut = False
        exists = False

        def __init__(self):
            self.updated = None

        def update(self, v):
            self.updated = v

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

    h = 3_600_000_000  # 1h in us
    base = pd.Timestamp("2024-01-01").value // 1_000  # us
    mk = lambda rows: pd.DataFrame(
        {
            "user_id": [1] * len(rows),
            "ts": [pd.Timestamp((base + t) * 1_000) for t, _ in rows],
            "event_id": [e for _, e in rows],
        }
    )
    # session A: events at 0h,0.1h; session B (2h gap): events at 2h,2.1h
    older = mk([(0, 1), (h // 10, 2)])
    newer = mk([(2 * h, 3), (2 * h + h // 10, 4)])
    state = _FakeState()
    # newest chunk FIRST: pre-fix this merged everything into one session
    out = pd.concat(list(_update((1,), iter([newer, older]), state)))
    closed = sorted(
        (r.session_start.value // 1_000, r.session_end.value // 1_000, r.n_events)
        for r in out.itertuples()
    )
    assert closed == [(base, base + h // 10, 2)]  # session A closed in-batch
    start_us, last_us, _eid, n = state.updated  # session B still open
    assert (start_us, last_us, n) == (base + 2 * h, base + 2 * h + h // 10, 2)


def test_stateful_ewma_stream_matches_batch(spark, replay_dir, tmp_path):
    """Streaming dyadic EWMA (applyInPandasWithState, append mode) must
    equal the batch window query per event -- same exact integer
    num/den, so equality is to the last ulp before a shared rounding."""
    from gmail_bigquery_etl_spark.queries.events import events_ewma_halflife
    from gmail_bigquery_etl_spark.streaming.stateful import running_ewma

    stream = replay_events_stream(spark, replay_dir)
    out = str(tmp_path / "ewma_out")

    q = (
        running_ewma(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive

    got = {
        (r.user_id, r.event_id): r.ewma6
        for r in spark.read.parquet(out)
        .select("user_id", "event_id", F.round("ewma", 6).alias("ewma6"))
        .collect()
    }
    want = {
        (r.user_id, r.event_id): r.ewma
        for r in events_ewma_halflife(spark, SMOKE_SF).collect()
    }
    assert got == want


def test_streaming_cms_equals_batch_sketch(spark, replay_dir, tmp_path):
    """Sketch maintenance over the replayed stream: after the final
    micro-batch, the maintained CMS cell table must equal a one-shot
    batch build over the whole fixture, bit for bit (the mergeability
    contract, operationalized through the snapshot-pointer sink)."""
    from gmail_bigquery_etl_spark.operators.cms import cms_build
    from gmail_bigquery_etl_spark.streaming.sketches import (
        read_sketch,
        start_cms_maintenance,
    )

    stream = replay_events_stream(spark, replay_dir).select("event_type")
    sink = str(tmp_path / "cms_sink")
    q = start_cms_maintenance(
        stream, "event_type", sink, str(tmp_path / "cms_ckpt")
    )
    q.awaitTermination(300)
    assert not q.isActive

    got = {
        (r.i, r.col): r.c for r in read_sketch(spark, sink).collect()
    }
    want_df = load_table(spark, SMOKE_SF, "events").select("event_type")
    want = {
        (r.i, r.col): r.c for r in cms_build(want_df, "event_type").collect()
    }
    assert got == want and got


def test_streaming_cms_replayed_batch_is_not_double_counted(spark, tmp_path):
    """Crash-after-swap replay: foreachBatch redelivers a batch whose
    pointer swap committed but whose checkpoint didn't. CMS merge is
    additive, so without the id guard the redelivery would double-count;
    apply_cms_batch must no-op on an already-recorded batch id (and on
    any stale id below it) while still applying genuinely new ids."""
    from gmail_bigquery_etl_spark.streaming.sketches import (
        apply_cms_batch,
        read_sketch,
    )

    sink = str(tmp_path / "cms_replay_sink")
    b0 = spark.createDataFrame([("a",), ("b",), ("a",)], "k string")
    b1 = spark.createDataFrame([("b",), ("c",)], "k string")

    def cells():
        return {(r.i, r.col): r.c for r in read_sketch(spark, sink).collect()}

    apply_cms_batch(spark, b0, 0, "k", sink)
    after_b0 = cells()
    apply_cms_batch(spark, b0, 0, "k", sink)  # crash-after-swap replay
    assert cells() == after_b0
    apply_cms_batch(spark, b1, 1, "k", sink)
    after_b1 = cells()
    assert after_b1 != after_b0
    apply_cms_batch(spark, b1, 1, "k", sink)  # replay of the new head
    apply_cms_batch(spark, b0, 0, "k", sink)  # stale id below the head
    assert cells() == after_b1


def test_stream_static_enrichment_matches_batch(spark, replay_dir, tmp_path):
    """Stream-static broadcast enrichment == the same join on the static
    fixture, including events whose user is absent from the dimension
    (left-outer keeps them with a NULL segment)."""
    from gmail_bigquery_etl_spark.streaming.joins import enrich_with_dim

    ev_static = load_table(spark, SMOKE_SF, "events")
    # dimension derived from the fixture, minus some users (absent-key path)
    dim = (
        ev_static.select("user_id")
        .distinct()
        .where(F.col("user_id") % 5 != 0)
        .withColumn(
            "segment",
            F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"),
        )
    )
    stream = replay_events_stream(spark, replay_dir)
    out = str(tmp_path / "enrich_out")
    q = (
        enrich_with_dim(stream, dim)
        .select("event_id", "user_id", "segment")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive

    got = {
        (r.event_id, r.user_id, r.segment)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.event_id, r.user_id, r.segment)
        for r in enrich_with_dim(ev_static, dim)
        .select("event_id", "user_id", "segment")
        .collect()
    }
    assert got == want
    assert any(seg is None for _, _, seg in got)  # absent-key facts kept


def test_streaming_dashboard_equals_batch_state(spark, replay_dir, tmp_path):
    """The streaming sketch dashboard (per-window HLL distinct users +
    CMS heavy hitters + candidate dictionary, one snapshot pointer):
    after the replayed stream drains, all three maintained tables AND
    the derived top-k view equal a one-shot batch build over the whole
    fixture, bit for bit; a replayed batch id is a no-op for the whole
    triple."""
    from gmail_bigquery_etl_spark.streaming.sketches import (
        apply_dashboard_batch,
        dashboard_batch_state,
        dashboard_topk,
        read_dashboard,
        start_dashboard_maintenance,
    )

    stream = replay_events_stream(spark, replay_dir).select(
        "ts", "user_id", "event_type"
    )
    sink = str(tmp_path / "dash_sink")
    q = start_dashboard_maintenance(
        stream, sink, str(tmp_path / "dash_ckpt")
    )
    q.awaitTermination(300)
    assert not q.isActive

    events = load_table(spark, SMOKE_SF, "events")
    want = dashboard_batch_state(events)
    got = read_dashboard(spark, sink)

    def keyset(df):
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    for name in ("hll", "cms", "dict"):
        assert keyset(got[name]) == keyset(want[name]), name
    assert keyset(got["hll"])  # non-vacuous

    # batch-built sink (one apply over the whole fixture) serves the
    # identical top-k view
    bsink = str(tmp_path / "dash_batch_sink")
    apply_dashboard_batch(spark, events, 0, bsink)
    assert keyset(dashboard_topk(spark, sink)) == keyset(
        dashboard_topk(spark, bsink)
    )

    # replayed (stale) batch id: whole-triple no-op
    before = {n: keyset(got[n]) for n in got}
    apply_dashboard_batch(spark, events.limit(5), 0, sink)
    after = read_dashboard(spark, sink)
    assert {n: keyset(after[n]) for n in after} == before


def test_streaming_qsketch_equals_batch_build(spark, replay_dir, tmp_path):
    """Quantile-sketch maintenance over the replayed stream: the
    maintained cell table equals a one-shot batch build over the whole
    fixture bit for bit, the derived quantiles agree, and a replayed
    batch id is a no-op (additive cells behind the pointer-id guard)."""
    from gmail_bigquery_etl_spark.operators.quantile import (
        qsketch_build,
        qsketch_quantiles,
    )
    from gmail_bigquery_etl_spark.streaming.sketches import (
        apply_qsketch_batch,
        read_qsketch,
        start_qsketch_maintenance,
    )

    stream = replay_events_stream(spark, replay_dir).select("value")
    sink = str(tmp_path / "q_sink")
    q = start_qsketch_maintenance(
        stream, "value", sink, str(tmp_path / "q_ckpt")
    )
    q.awaitTermination(300)
    assert not q.isActive

    def cells(df):
        return {(r.e, r.m): r.cnt for r in df.collect()}

    got = read_qsketch(spark, sink)
    want = qsketch_build(
        load_table(spark, SMOKE_SF, "events").select("value"), "value"
    )
    assert cells(got) == cells(want) and cells(want)

    gq = {(r.q_permille): (r.est_lo, r.est_hi)
          for r in qsketch_quantiles(got, [500, 990]).collect()}
    wq = {(r.q_permille): (r.est_lo, r.est_hi)
          for r in qsketch_quantiles(want, [500, 990]).collect()}
    assert gq == wq and gq

    before = cells(read_qsketch(spark, sink))
    apply_qsketch_batch(
        spark,
        load_table(spark, SMOKE_SF, "events").select("value").limit(10),
        0,
        "value",
        sink,
    )
    assert cells(read_qsketch(spark, sink)) == before


def test_dashboard_survives_checkpoint_restart(spark, tmp_path):
    """Dashboard maintenance across a STOP/RESTART: drain half the
    corpus, stop, land the second half, restart a new query on the SAME
    checkpoint and sink. The final triple equals the whole-fixture batch
    build -- possible only if the restarted query resumed source offsets
    (no re-merge of committed files through the additive CMS) and
    continued batch ids past the pointer's high-water mark (the replay
    guard must not swallow the genuinely new batches)."""
    from gmail_bigquery_etl_spark.streaming.sketches import (
        dashboard_batch_state,
        read_dashboard,
        start_dashboard_maintenance,
    )

    ev = load_table(spark, SMOKE_SF, "events").select(
        "ts", "user_id", "event_type"
    )
    cutoff = ev.agg(F.expr("percentile(cast(ts as double), 0.5)")).first()[0]
    live = str(tmp_path / "live")
    sink = str(tmp_path / "dash2_sink")
    ckpt = str(tmp_path / "dash2_ckpt")

    first = ev.where(F.col("ts").cast("double") <= cutoff)
    second = ev.where(F.col("ts").cast("double") > cutoff)
    first.coalesce(2).write.mode("overwrite").parquet(live)

    def run():
        schema = spark.read.parquet(live).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(live)
        )
        q = start_dashboard_maintenance(stream, sink, ckpt)
        q.awaitTermination(300)
        assert not q.isActive

    run()
    mid = read_dashboard(spark, sink)
    assert mid["dict"].count() > 0

    second.coalesce(2).write.mode("append").parquet(live)
    run()

    want = dashboard_batch_state(ev)
    got = read_dashboard(spark, sink)

    def keyset(df):
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    for name in ("hll", "cms", "dict"):
        assert keyset(got[name]) == keyset(want[name]), name


def test_dashboard_replay_guard_holds_at_every_kill_point(spark, tmp_path):
    """EXHAUSTIVE kill-point sweep (the single-point restart test's
    stronger sibling): for EVERY batch index k in a 4-batch feed,
    simulate the crash window -- batches 0..k commit, then batch k is
    REDELIVERED (foreachBatch re-runs an uncommitted-in-checkpoint
    batch whose effects already hit the sink), then the feed continues
    k+1..3. The redelivery carries MUTATED content (worst case: a
    buggy upstream re-reads different rows under the same batch id) --
    the guard must drop it on id alone. Final state must equal the
    one-shot batch build bit-for-bit for every k; an additive CMS sink
    without the pointer guard double-counts at exactly one k and fails
    this sweep."""
    from gmail_bigquery_etl_spark.streaming.sketches import (
        apply_dashboard_batch,
        dashboard_batch_state,
        read_dashboard,
    )

    ev = load_table(spark, SMOKE_SF, "events").select(
        "ts", "user_id", "event_type"
    )
    chunks = [ev.where(F.col("user_id") % 4 == i) for i in range(4)]
    want = {
        name: sorted(
            tuple(str(v) for v in r) for r in df.collect()
        )
        for name, df in dashboard_batch_state(ev).items()
    }
    poison = ev.limit(37)  # arbitrary different rows for the redelivery

    for k in range(4):
        sink = str(tmp_path / f"kill_{k}")
        for i in range(k + 1):
            apply_dashboard_batch(spark, chunks[i], i, sink)
        apply_dashboard_batch(spark, poison, k, sink)  # crash-window replay
        for i in range(k + 1, 4):
            apply_dashboard_batch(spark, chunks[i], i, sink)
        got = read_dashboard(spark, sink)
        for name in ("hll", "cms", "dict"):
            rows = sorted(
                tuple(str(v) for v in r) for r in got[name].collect()
            )
            assert rows == want[name], (k, name)


def test_vacuum_applies_to_sketch_sinks(spark, tmp_path):
    """The retention knob is one mechanism for every snapshot-pointer
    sink: vacuuming a dashboard sink (whose snapshots are DIRECTORIES of
    three tables) and a quantile sink drops old generations, keeps the
    pointer target readable, and the replay guard still works off the
    surviving pointer."""
    from gmail_bigquery_etl_spark.streaming.merge_sink import (
        list_versions,
        vacuum,
    )
    from gmail_bigquery_etl_spark.streaming.sketches import (
        apply_dashboard_batch,
        apply_qsketch_batch,
        read_dashboard,
        read_qsketch,
    )

    ev = load_table(spark, SMOKE_SF, "events").select(
        "ts", "user_id", "event_type", "value"
    )
    dsink = str(tmp_path / "v_dash")
    qsink = str(tmp_path / "v_q")
    for i in range(3):
        chunk = ev.where(F.col("event_id") % 3 == i) if "event_id" in ev.columns else ev.limit(100 * (i + 1))
        apply_dashboard_batch(spark, chunk, i, dsink)
        apply_qsketch_batch(spark, chunk.select("value"), i, "value", qsink)

    for sink, reader in ((dsink, read_dashboard), (qsink, read_qsketch)):
        assert vacuum(sink, keep_last=1) == [0, 1]
        assert list_versions(sink) == [2]
        state = reader(spark, sink)
        n = (
            sum(df.count() for df in state.values())
            if isinstance(state, dict)
            else state.count()
        )
        assert n > 0
    # replay guard still keyed off the surviving pointer
    before = {
        (r.e, r.m): r.cnt for r in read_qsketch(spark, qsink).collect()
    }
    apply_qsketch_batch(spark, ev.select("value").limit(5), 1, "value", qsink)
    after = {
        (r.e, r.m): r.cnt for r in read_qsketch(spark, qsink).collect()
    }
    assert after == before


def test_streaming_ivf_index_matches_batch_assignment(spark, tmp_path):
    """Incremental ANN index maintenance (frozen quantizer + streamed
    assignments): after draining a replayed embeddings stream, the
    maintained (vec_id, cell) table equals a one-shot batch assignment
    of the whole fixture with the SAME persisted quantizer; a second
    run over extra vectors with the same checkpoint extends the index
    without reprocessing; a stale batch id no-ops."""
    from gmail_bigquery_etl_spark.operators.similarity import ivf_assign
    from gmail_bigquery_etl_spark.streaming.ann_index import (
        apply_index_batch,
        load_quantizer,
        read_index,
        start_index_maintenance,
        train_quantizer,
    )

    emb = load_table(spark, SMOKE_SF, "embeddings")
    sink = str(tmp_path / "ivf_sink")
    ckpt = str(tmp_path / "ivf_ckpt")
    live = str(tmp_path / "ivf_live")
    train_quantizer(emb, sink)
    cents = load_quantizer(sink)

    half = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1)
    half.coalesce(3).write.mode("overwrite").parquet(live)

    def run():
        schema = spark.read.parquet(live).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(live)
        )
        q = start_index_maintenance(stream, sink, ckpt)
        q.awaitTermination(300)
        assert not q.isActive

    run()
    got_half = {
        r.vec_id: r.cell for r in read_index(spark, sink).collect()
    }
    assert len(got_half) == half.count()

    rest.coalesce(3).write.mode("append").parquet(live)
    run()  # restart on the same checkpoint: only the new files process

    got = {r.vec_id: r.cell for r in read_index(spark, sink).collect()}
    want = {
        r.vec_id: r.cell
        for r in emb.select(
            "vec_id", ivf_assign("embedding", cents).cast("int").alias("cell")
        ).collect()
    }
    assert got == want and len(got) == emb.count()

    apply_index_batch(spark, emb.limit(3), 0, sink)  # stale id: no-op
    assert {
        r.vec_id: r.cell for r in read_index(spark, sink).collect()
    } == got


def test_ivf_index_dedups_vec_ids_across_batches(spark, tmp_path):
    """The pointer guard only covers whole-batch redelivery; a vec_id
    re-sent under a LATER batch id (overlapping source reads) must not
    duplicate index rows -- a bag union would inflate per-cell occupancy
    and search results. The sink anti-joins already-indexed ids, so the
    overlapping batch contributes only its genuinely-new vectors."""
    from gmail_bigquery_etl_spark.streaming.ann_index import (
        apply_index_batch,
        read_index,
        train_quantizer,
    )

    emb = load_table(spark, SMOKE_SF, "embeddings")
    sink = str(tmp_path / "dedup_ivf_sink")
    train_quantizer(emb, sink)

    first = emb.where(F.col("vec_id") < 20)
    overlap = emb.where(F.col("vec_id") < 30)  # re-sends ids 0..19
    apply_index_batch(spark, first, 0, sink)
    apply_index_batch(spark, overlap, 1, sink)

    rows = read_index(spark, sink).collect()
    ids = [r.vec_id for r in rows]
    assert len(ids) == len(set(ids)) == emb.where(F.col("vec_id") < 30).count()


def test_matview_stream_equals_batch_aggregate(spark, tmp_path):
    """IVM parity: maintaining COUNT/SUM through the streaming wrapper
    over a replayed insert-delta feed lands bit-for-bit on the direct
    groupBy over the whole fixture; a second feed with RETRACTIONS of
    half the rows lands on the direct groupBy of the surviving half --
    i.e., insert+retract maintenance == recompute-from-scratch."""
    from gmail_bigquery_etl_spark.streaming.matview import (
        read_view,
        start_view_maintenance,
    )

    ev = load_table(spark, SMOKE_SF, "events").select(
        "event_type",
        F.col("user_id").cast("bigint").alias("u"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    inserts = ev.select("event_type", "cents", F.lit(1).alias("mult"))
    live = str(tmp_path / "mv_live")
    sink = str(tmp_path / "mv_sink")
    ckpt = str(tmp_path / "mv_ckpt")
    inserts.coalesce(3).write.mode("overwrite").parquet(live)

    def run():
        schema = spark.read.parquet(live).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(live)
        )
        q = start_view_maintenance(
            stream, sink, ckpt, ["event_type"], ["cents"]
        )
        q.awaitTermination(300)
        assert not q.isActive

    run()
    want = {
        r.event_type: (r.n, r.s)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("s"),
        )
        .collect()
    }
    got = {
        r.event_type: (r.n_rows, r.cents)
        for r in read_view(spark, sink).collect()
    }
    assert got == want

    # retract every odd-user row (restart on same checkpoint; only the
    # new delta files process) -> view == direct agg of even-user rows
    retracts = ev.where(F.col("u") % 2 == 1).select(
        "event_type", "cents", F.lit(-1).alias("mult")
    )
    retracts.coalesce(3).write.mode("append").parquet(live)
    run()
    want2 = {
        r.event_type: (r.n, r.s)
        for r in ev.where(F.col("u") % 2 == 0)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("s"),
        )
        .collect()
    }
    got2 = {
        r.event_type: (r.n_rows, r.cents)
        for r in read_view(spark, sink).collect()
    }
    assert got2 == want2


def test_matview_zero_count_groups_leave_the_view(spark, tmp_path):
    """The counting algorithm's termination rule: when a group's last
    supporting row retracts, the group DISAPPEARS from the view (a
    naive sum-merge would leave a zero ghost row that readers count as
    a live group). Also pins the replay guard and that an under-zero
    multiplicity (more retracts than inserts, a malformed feed) still
    keeps the row out only at exactly zero."""
    from gmail_bigquery_etl_spark.streaming.matview import (
        apply_view_delta,
        read_view,
    )

    sink = str(tmp_path / "zero_sink")
    d0 = spark.createDataFrame(
        [("a", 100, 1), ("a", 50, 1), ("b", 10, 1)],
        "g string, cents bigint, mult int",
    )
    d1 = spark.createDataFrame(
        [("a", 100, -1), ("a", 50, -1), ("b", 5, 1)],
        "g string, cents bigint, mult int",
    )
    apply_view_delta(spark, d0, 0, sink, ["g"], ["cents"])
    apply_view_delta(spark, d1, 1, sink, ["g"], ["cents"])
    got = {r.g: (r.n_rows, r.cents) for r in read_view(spark, sink).collect()}
    assert got == {"b": (2, 15)}  # group 'a' fully retracted -> gone

    # replay guard: redelivered batch id with different content no-ops
    poison = spark.createDataFrame(
        [("z", 1, 1)], "g string, cents bigint, mult int"
    )
    apply_view_delta(spark, poison, 1, sink, ["g"], ["cents"])
    assert {
        r.g: (r.n_rows, r.cents) for r in read_view(spark, sink).collect()
    } == {"b": (2, 15)}

    # a group can come BACK after dying (new inserts re-create it)
    d2 = spark.createDataFrame(
        [("a", 7, 1)], "g string, cents bigint, mult int"
    )
    apply_view_delta(spark, d2, 2, sink, ["g"], ["cents"])
    assert {
        r.g: (r.n_rows, r.cents) for r in read_view(spark, sink).collect()
    } == {"b": (2, 15), "a": (1, 7)}


def test_matview_state_is_chunking_invariant(spark, tmp_path):
    """Delta application is associative+commutative at the state level:
    the same multiset of delta rows applied as 2 batches vs 5 batches
    yields identical view state (the mergeability contract the sketch
    family pins, here for the IVM sink)."""
    from gmail_bigquery_etl_spark.streaming.matview import (
        apply_view_delta,
        read_view,
    )

    ev = load_table(spark, SMOKE_SF, "events").select(
        "event_type",
        F.col("event_id").cast("bigint").alias("i"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    deltas = ev.select(
        "event_type",
        "cents",
        F.when(F.col("i") % 11 == 0, -1).otherwise(1).alias("mult"),
        "i",
    )
    roots = [str(tmp_path / "chunk2"), str(tmp_path / "chunk5")]
    for root, n in zip(roots, (2, 5)):
        for b in range(n):
            apply_view_delta(
                spark,
                deltas.where(F.col("i") % n == b).drop("i"),
                b,
                root,
                ["event_type"],
                ["cents"],
            )
    a, b = (
        {
            r.event_type: (r.n_rows, r.cents)
            for r in read_view(spark, root).collect()
        }
        for root in roots
    )
    assert a == b and a


def test_minmax_view_exposes_runner_up_after_retraction(spark, tmp_path):
    """MIN/MAX through the support histogram: retracting the current
    minimum exposes the runner-up (the case plain counting IVM cannot
    handle); retracting one of two copies of the minimum keeps it; the
    max side works symmetrically."""
    from gmail_bigquery_etl_spark.streaming.matview import (
        apply_view_delta,
        read_minmax_view,
    )

    sink = str(tmp_path / "mm_sink")
    d0 = spark.createDataFrame(
        [("a", 10, 1), ("a", 10, 1), ("a", 50, 1), ("a", 99, 1)],
        "g string, v bigint, mult int",
    )
    apply_view_delta(spark, d0, 0, sink, ["g", "v"], [])

    def mm():
        r = read_minmax_view(spark, sink, ["g"], "v").collect()[0]
        return (r.min_v, r.max_v, r.n_rows)

    assert mm() == (10, 99, 4)
    # one of two copies of the min retracted: min survives
    apply_view_delta(
        spark,
        spark.createDataFrame([("a", 10, -1)], "g string, v bigint, mult int"),
        1, sink, ["g", "v"], [],
    )
    assert mm() == (10, 99, 3)
    # last copy retracted: runner-up 50 becomes the min
    apply_view_delta(
        spark,
        spark.createDataFrame([("a", 10, -1)], "g string, v bigint, mult int"),
        2, sink, ["g", "v"], [],
    )
    assert mm() == (50, 99, 2)
    # max retracted: 50 is now both min and max
    apply_view_delta(
        spark,
        spark.createDataFrame([("a", 99, -1)], "g string, v bigint, mult int"),
        3, sink, ["g", "v"], [],
    )
    assert mm() == (50, 50, 1)


def test_streaming_lsh_index_matches_batch_banding(spark, tmp_path):
    """Incremental MinHash-LSH dedup index: after draining a replayed
    documents stream, the maintained (doc_id, band, band_key) table
    equals the one-shot banding of the whole fixture bit-for-bit; a
    restart on the same checkpoint extends without reprocessing; a
    stale batch id no-ops; and the candidate join over the finished
    index reproduces the batch LSH candidate generator's pair set."""
    from gmail_bigquery_etl_spark.operators.dedup import (
        banded_signatures,
        grams_stage,
        lsh_candidate_pairs_from_grams,
    )
    from gmail_bigquery_etl_spark.streaming.dedup_index import (
        apply_dedup_batch,
        find_near_dup_candidates,
        read_dedup_index,
        start_dedup_index_maintenance,
    )

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    sink = str(tmp_path / "lsh_sink")
    ckpt = str(tmp_path / "lsh_ckpt")
    live = str(tmp_path / "lsh_live")

    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    half.coalesce(3).write.mode("overwrite").parquet(live)

    def run():
        schema = spark.read.parquet(live).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(live)
        )
        q = start_dedup_index_maintenance(stream, sink, ckpt)
        q.awaitTermination(300)
        assert not q.isActive

    run()
    assert read_dedup_index(spark, sink).select(
        "doc_id"
    ).distinct().count() == half.count()

    rest.coalesce(3).write.mode("append").parquet(live)
    run()  # restart on the same checkpoint: only the new files process

    got = {
        (r.doc_id, r.band, r.band_key)
        for r in read_dedup_index(spark, sink).collect()
    }
    want = {
        (r._id, r.band, r.band_key)
        for r in banded_signatures(grams_stage(docs)).collect()
    }
    assert got == want

    last = read_dedup_index(spark, sink).collect()
    apply_dedup_batch(spark, docs.limit(3), 0, sink)  # stale id: no-op
    assert sorted(map(tuple, read_dedup_index(spark, sink).collect())) == sorted(
        map(tuple, last)
    )

    # candidate face: probing the index with the corpus itself yields
    # exactly the batch candidate generator's (unordered) pair set
    cands = find_near_dup_candidates(spark, sink, docs)
    got_pairs = {
        tuple(sorted((r.probe_id, r.index_id)))
        for r in cands.collect()
    }
    want_pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs_from_grams(
            grams_stage(docs), max_bucket=10**9
        ).collect()
    }
    assert got_pairs == want_pairs


def test_lsh_index_dedups_doc_ids_across_batches(spark, tmp_path):
    """A doc_id re-sent under a LATER batch id must not duplicate its
    band rows (the pointer guard only covers whole-batch redelivery)."""
    from gmail_bigquery_etl_spark.streaming.dedup_index import (
        apply_dedup_batch,
        read_dedup_index,
    )

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    sink = str(tmp_path / "lsh_overlap_sink")
    first = docs.where(F.col("doc_id") < 20)
    overlap = docs.where(F.col("doc_id") < 30)  # re-sends ids 0..19
    apply_dedup_batch(spark, first, 0, sink)
    apply_dedup_batch(spark, overlap, 1, sink)

    rows = read_dedup_index(spark, sink).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, set()).add((r.band, r.band_key))
    n_docs = docs.where(F.col("doc_id") < 30).count()
    assert len(per_doc) == n_docs
    assert all(len(v) == 4 for v in per_doc.values())  # 4 bands, no dups
