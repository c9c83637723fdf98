"""Streaming CDC apply: MERGE INTO a parquet sink, one micro-batch at a time.

The batch operator (operators/merge.merge_upsert) covers a one-shot change
batch; a CDC FEED needs the streaming form: each micro-batch of
upserts/deletes merges into the sink under foreachBatch. This is the
raw-parquet analog of Delta/Iceberg's streaming MERGE INTO: read the
current snapshot, merge, rewrite atomically (write new snapshot dir, then
swap a pointer file).

Scale posture: with a real table format the rewrite is partition-scoped
(only partitions the batch's keys touch are rewritten) and the swap is a
metadata commit. Here the sink is a single snapshot directory because the
fixtures are one partition; the operator composition (anti-join + union)
is the part that carries to 100 TB unchanged. Batches must be key-unique
(standard CDC post-image contract); later batches win over earlier ones by
construction (sequential merges).

Restart semantics are the shared snapshot-pointer contract
(streaming/snapshots.py): the pointer advances only after the new
snapshot is fully written, and a redelivered batch the pointer already
records is dropped, so the sink is effectively-once.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.merge import merge_upsert
from .snapshots import (
    commit,
    current_snapshot_dir,
    list_versions,
    snapshot_dir,
    start,
)

_COMMIT_TS = "_commit_ts"  # leading underscore: ignored by parquet readers


def commit_ts_of(sink_root: str, version: int) -> float:
    """Commit timestamp (epoch seconds) recorded in the snapshot's
    sidecar at write time. Raises for a vacuumed/uncommitted version."""
    p = os.path.join(snapshot_dir(sink_root, version), _COMMIT_TS)
    if not os.path.exists(p):
        raise ValueError(
            f"version {version} not retained in {sink_root} "
            f"(have {list_versions(sink_root)})"
        )
    with open(p) as f:
        return float(f.read().strip())


def snapshot_timestamps(sink_root: str) -> dict[int, float]:
    """version -> commit epoch seconds for every retained snapshot."""
    return {v: commit_ts_of(sink_root, v) for v in list_versions(sink_root)}


def read_as_of(
    spark,
    sink_root: str,
    version: int | None = None,
    ts: float | None = None,
) -> DataFrame:
    """Time-travel read: the sink's state as of snapshot ``version``
    (exact id, like Delta's versionAsOf) or as of epoch-seconds ``ts``
    (newest snapshot whose commit timestamp <= ts, like Delta's
    timestampAsOf); None/None reads the current pointer. Raises
    ValueError for a version that was never committed or has been
    vacuumed, and for a ts older than the oldest retained commit -- a
    silent fallback to a different version would be a correctness bug
    in any downstream backfill."""
    if version is not None and ts is not None:
        raise ValueError("pass version OR ts, not both")
    if ts is not None:
        eligible = [
            v for v, cts in snapshot_timestamps(sink_root).items()
            if cts <= ts
        ]
        if not eligible:
            raise ValueError(
                f"no retained snapshot in {sink_root} committed at or "
                f"before ts={ts} (history may have been vacuumed; "
                f"retained: {snapshot_timestamps(sink_root)})"
            )
        version = max(eligible)
    if version is None:
        cur = current_snapshot_dir(sink_root)
        if cur is None:
            raise ValueError(f"no committed snapshot in {sink_root}")
        return spark.read.parquet(cur)
    d = snapshot_dir(sink_root, version)
    if not os.path.isdir(d):
        have = list_versions(sink_root)
        raise ValueError(
            f"version {version} not retained in {sink_root} "
            f"(have {have})"
        )
    return spark.read.parquet(d)


def read_changes(
    spark,
    sink_root: str,
    from_version: int,
    to_version: int,
    keys: list[str],
) -> DataFrame:
    """Change Data Feed between two retained versions (Delta's
    ``readChangeFeed``): one full-outer join of the two snapshots on
    ``keys``, classified per key into ``_change_type`` in {insert,
    delete, update_preimage, update_postimage} -- updates emit BOTH
    images, like Delta CDF, so a downstream consumer can re-derive
    either side. Net-effect semantics (state-vs-state diff): a key
    inserted and deleted strictly between the two versions produces no
    row, which is the right contract for driving a downstream sync.

    Schema evolution is handled as in the reads: the earlier snapshot
    is NULL-backfilled for columns the later one added. The plan is ONE
    join; the per-key change rows come from exploding a per-key change
    array, so the join subtree is never duplicated."""
    if from_version >= to_version:
        raise ValueError(
            f"from_version {from_version} must precede to_version "
            f"{to_version}"
        )
    a = read_as_of(spark, sink_root, from_version)
    b = read_as_of(spark, sink_root, to_version)
    return classify_changes(a, b, keys)


def classify_changes(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """The snapshot-diff classification core shared by every sink
    implementation (flat and manifest): state A vs state B on ``keys``
    -> insert / delete / update_preimage / update_postimage rows."""
    dropped = [c for c in a.columns if c not in b.columns]
    if dropped:
        raise ValueError(
            f"the later state lost columns {dropped} vs the earlier one"
        )
    for c in b.columns:
        if c not in a.columns:
            a = a.withColumn(c, F.lit(None).cast(b.schema[c].dataType))
    vals = [c for c in b.columns if c not in keys]
    aj = a.select(*keys, F.struct(*vals).alias("_pre"))
    bj = b.select(*keys, F.struct(*vals).alias("_post"))
    j = aj.join(bj, keys, "full_outer")
    empty = F.array().cast(
        f"array<struct<img:struct<{','.join(f'{c}:{b.schema[c].dataType.simpleString()}' for c in vals)}>,t:string>>"
    )
    change_arr = (
        F.when(
            F.col("_pre").isNull(),
            F.array(F.struct(F.col("_post").alias("img"), F.lit("insert").alias("t"))),
        )
        .when(
            F.col("_post").isNull(),
            F.array(F.struct(F.col("_pre").alias("img"), F.lit("delete").alias("t"))),
        )
        .when(
            ~F.col("_pre").eqNullSafe(F.col("_post")),
            F.array(
                F.struct(F.col("_pre").alias("img"), F.lit("update_preimage").alias("t")),
                F.struct(F.col("_post").alias("img"), F.lit("update_postimage").alias("t")),
            ),
        )
        .otherwise(empty)
    )
    return (
        j.select(*keys, F.explode(change_arr).alias("_c"))
        .select(
            *keys,
            *[F.col(f"_c.img.{c}").alias(c) for c in vals],
            F.col("_c.t").alias("_change_type"),
        )
    )


def read_changes_log(
    spark,
    sink_root: str,
    keys: list[str],
    from_version: int | None = None,
    to_version: int | None = None,
) -> DataFrame:
    """The PER-COMMIT change log (Delta's ``table_changes``): one
    ``read_changes`` slice per consecutive retained version pair,
    unioned with a ``_commit_version`` column. Unlike the endpoint diff
    this preserves transients -- a key inserted at v1 and deleted at v2
    appears as an insert AND a delete, each stamped with its commit --
    which is what a downstream incremental consumer replays. The first
    retained version contributes its full state as inserts when it is
    the log's start (version-0 bootstrap semantics).

    Requires the requested range to be contiguous in the retained
    history (vacuum holes raise, via read_as_of)."""
    versions = list_versions(sink_root)
    if not versions:
        raise ValueError(f"no committed snapshot in {sink_root}")
    lo = versions[0] if from_version is None else from_version
    hi = versions[-1] if to_version is None else to_version
    span = [v for v in versions if lo <= v <= hi]
    if not span or span[0] != lo or span[-1] != hi:
        raise ValueError(
            f"range [{lo}, {hi}] not fully retained in {sink_root} "
            f"(have {versions})"
        )
    parts = []
    if from_version is None or lo == versions[0]:
        # bootstrap: the oldest retained state enters the log as inserts
        boot = read_as_of(spark, sink_root, lo).select(
            "*",
            F.lit("insert").alias("_change_type"),
            F.lit(lo).alias("_commit_version"),
        )
        parts.append(boot)
    for a, b in zip(span, span[1:]):
        parts.append(
            read_changes(spark, sink_root, a, b, keys).withColumn(
                "_commit_version", F.lit(b)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def forget_keys(
    spark,
    sink_root: str,
    keys: list[str],
    key_rows: list[tuple],
) -> dict:
    """Right-to-be-forgotten: erase the given keys from EVERY retained
    snapshot -- unlike a CDC delete (which ends a key's life at one
    version and leaves its history readable), compliance erasure must
    remove the rows RETROACTIVELY from time travel, change feeds, and
    logs. Every retained snapshot dir is rewritten without the keys
    (commit-ts sidecars preserved, version ids unchanged); returns
    {version: rows_removed}.

    The per-dir swap is write-tmp + replace, not an atomic metadata
    commit -- the honest raw-parquet analog of Delta's
    copy-on-write + VACUUM sequence for the same operation; run it
    with writers quiesced (compliance rewrites are maintenance
    windows everywhere)."""
    import shutil

    key_df = F.broadcast(spark.createDataFrame(key_rows, schema=keys))
    removed = {}
    for v in list_versions(sink_root):
        d = snapshot_dir(sink_root, v)
        df = spark.read.parquet(d)
        before = df.count()
        kept = df.join(key_df, on=keys, how="left_anti")
        tmp = d + ".forget_tmp"
        kept.write.mode("overwrite").parquet(tmp)
        after = spark.read.parquet(tmp).count()
        ts_path = os.path.join(d, _COMMIT_TS)
        ts = None
        if os.path.exists(ts_path):
            with open(ts_path) as f:
                ts = f.read()
        shutil.rmtree(d)
        os.replace(tmp, d)
        if ts is not None:
            with open(os.path.join(d, _COMMIT_TS), "w") as f:
                f.write(ts)
        removed[v] = before - after
    return removed


def vacuum(sink_root: str, keep_last: int = 2) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` snapshot
    directories (the CURRENT pointer target is always kept regardless).
    Returns the removed versions. Old generations free their storage;
    time-travel reads older than the horizon start raising, which is
    the honest contract (same as Delta VACUUM breaking versionAsOf)."""
    import shutil

    keep_last = max(1, keep_last)
    versions = list_versions(sink_root)
    cur = current_snapshot_dir(sink_root)
    removed = []
    for v in versions[:-keep_last]:
        d = snapshot_dir(sink_root, v)
        if d == cur:
            continue
        shutil.rmtree(d)
        removed.append(v)
    return removed


def apply_merge_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    sink_root: str,
    keys: list[str],
    delete_col: str = "is_delete",
    commit_ts: float | None = None,
) -> None:
    """One CDC merge generation (module-level so batch callers and tests
    drive the exact code path the streaming sink runs): read the current
    snapshot, merge the post-images, write ``snap_{batch_id}`` with its
    commit timestamp sidecar, and commit it through snapshots.commit.
    Re-merging identical post-images would be content-idempotent, but
    the WRITE path is not (it reads the snapshot it would overwrite), so
    the replay guard matters here as much as for the additive sinks.

    Schema evolution (Delta-style mergeSchema): a batch may ADD columns;
    history rows are backfilled with NULL for the new columns. A batch
    that DROPS columns the snapshot has is rejected loudly -- silent
    column loss in a CDC feed is an upstream contract break, not
    evolution.

    ``commit_ts`` defaults to wall-clock; pass an explicit value for
    deterministic fixtures. Timestamps must be non-decreasing across
    generations for ``read_as_of(ts=...)`` to be meaningful (true for
    wall-clock under the sequential foreachBatch contract)."""
    data_cols = [c for c in batch_df.columns if c != delete_col]

    def write(new_dir: str) -> None:
        cur = current_snapshot_dir(sink_root)
        if cur is not None:
            base = spark.read.parquet(cur)
            dropped = [c for c in base.columns if c not in data_cols]
            if dropped:
                raise ValueError(
                    f"batch {batch_id} drops snapshot columns {dropped}; "
                    "a CDC post-image feed may add columns "
                    "(NULL-backfilled) but never silently lose them"
                )
            for c in data_cols:
                if c not in base.columns:
                    base = base.withColumn(
                        c, F.lit(None).cast(batch_df.schema[c].dataType)
                    )
        else:
            base = spark.createDataFrame(
                [], batch_df.select(*data_cols).schema
            )
        merged = merge_upsert(base, batch_df, keys, delete_col=delete_col)
        merged.write.mode("overwrite").parquet(new_dir)
        with open(os.path.join(new_dir, _COMMIT_TS), "w") as f:
            f.write(repr(time.time() if commit_ts is None else commit_ts))

    commit(sink_root, batch_id, write)


def start_merge_apply(
    changes_stream: DataFrame,
    sink_root: str,
    checkpoint_path: str,
    keys: list[str],
    delete_col: str = "is_delete",
) -> StreamingQuery:
    """Apply a stream of CDC post-images onto the sink. Returns the query
    handle; read the result via ``current_snapshot_dir``."""
    spark = changes_stream.sparkSession
    return start(
        changes_stream,
        checkpoint_path,
        lambda df, batch_id: apply_merge_batch(
            spark, df, batch_id, sink_root, keys, delete_col=delete_col
        ),
    )
