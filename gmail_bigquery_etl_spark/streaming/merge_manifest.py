"""Partition-scoped CDC merge: a manifest-based snapshot sink that only
rewrites the key-buckets a batch touches.

merge_sink.py rewrites the WHOLE snapshot per micro-batch -- correct,
and fine for a fixture, but its own docstring flags the 100 TB
simplification: a real table format rewrites only the partitions the
batch's keys touch and commits METADATA. This module closes that gap
with the actual mechanism Delta/Iceberg use -- file reuse across
versions through a manifest:

  * Rows hash into ``n_buckets`` key-buckets (``pmod(xxhash64(keys))``,
    the same co-location discipline as plans/bucketing.py).
  * A snapshot is a MANIFEST (JSON sidecar): bucket id -> parquet dir,
    where dirs may belong to ANY earlier generation. Committing a batch
    rewrites only the touched buckets into ``gen_{batch_id}/`` and
    copies the untouched buckets' dir POINTERS forward unchanged -- an
    O(changed data) write and an O(n_buckets) metadata commit, however
    large the table is.
  * The ``_CURRENT`` pointer swaps to the new manifest atomically after
    the data and manifest are fully written; the pointer-id replay
    guard drops crash-window redeliveries exactly as in the flat sink.
  * ``vacuum_manifests`` is REFERENCE-COUNTING retention: a data dir is
    removable only when NO retained manifest references it -- the part
    of VACUUM that makes file reuse safe (a bucket dir written in
    generation 0 and still referenced by the current manifest must
    survive any horizon).

Contracts pinned by tests/test_merge_manifest.py: per-version state
equality with the flat sink on identical batches; untouched buckets'
dir pointers are IDENTICAL STRINGS across consecutive manifests (the
no-rewrite guarantee, checked on metadata, not timing); fully-deleted
buckets leave the manifest; replay no-ops; vacuum never breaks a
retained version and always removes unreferenced generations.

Scale posture: per batch the plan reads only touched buckets (<=
min(n_buckets, distinct batch keys) dirs), merges against the batch via
the same broadcast anti-join as merge_upsert, and writes one job
partitioned by bucket. Time travel and retention never copy data --
they move O(n_buckets) strings. At a real deployment n_buckets becomes
a date/hash composite partition spec and the manifest a transaction
log; the algebra here is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.merge import merge_upsert
from .snapshots import read_pointer, start, swap_pointer

# no leading underscore: partitionBy writes dirs named "<col>=<v>", and
# Spark's file index skips underscore-prefixed paths in listings
_BUCKET = "mbucket"


def _manifest_path(sink_root: str, batch_id: int) -> str:
    return os.path.join(sink_root, f"manifest_{batch_id}.json")


def _commit_manifest(
    sink_root: str, version: int, manifest: dict, exclusive: bool = False
) -> None:
    """Write manifest_{version}.json then swap the _CURRENT pointer.

    ``exclusive=True`` makes the manifest FILE the commit arbiter
    (Delta's put-if-absent protocol): the json is staged to a tmp name
    and published with ``os.link``, which fails atomically if another
    writer already committed this version -- closing the check-then-swap
    race where two DMLs reading the same base both pass the conflict
    check and the later ``os.replace`` silently swallows the first
    commit. On conflict the staged tmp is removed and
    CommitConflictError raised; the caller's staged data dirs become
    unreferenced garbage vacuum reclaims."""
    path = _manifest_path(sink_root, version)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    if exclusive:
        try:
            os.link(tmp, path)
        except FileExistsError:
            os.remove(tmp)
            raise CommitConflictError(
                f"concurrent commit detected: manifest_{version}.json "
                f"already exists in {sink_root}; re-run against the new "
                "state"
            ) from None
        os.remove(tmp)
    else:
        os.replace(tmp, path)
    swap_pointer(sink_root, os.path.basename(path))


def current_manifest(sink_root: str) -> dict | None:
    name = read_pointer(sink_root)
    if name is None:
        return None
    with open(os.path.join(sink_root, name)) as f:
        return json.load(f)


def list_manifest_versions(sink_root: str) -> list[int]:
    if not os.path.isdir(sink_root):
        return []
    out = []
    for name in os.listdir(sink_root):
        if name.startswith("manifest_") and name.endswith(".json"):
            out.append(int(name.removeprefix("manifest_").removesuffix(".json")))
    return sorted(out)


def _load_manifest(sink_root: str, version: int) -> dict:
    p = _manifest_path(sink_root, version)
    if not os.path.exists(p):
        raise ValueError(
            f"version {version} not retained in {sink_root} "
            f"(have {list_manifest_versions(sink_root)})"
        )
    with open(p) as f:
        return json.load(f)


def _resolve_manifest(
    sink_root: str, version: int | None, ts: float | None
) -> dict:
    if version is not None and ts is not None:
        raise ValueError("pass version OR ts, not both")
    if ts is not None:
        eligible = [
            v
            for v in list_manifest_versions(sink_root)
            if _load_manifest(sink_root, v)["commit_ts"] <= ts
        ]
        if not eligible:
            raise ValueError(
                f"no retained manifest in {sink_root} committed at or "
                f"before ts={ts}"
            )
        version = max(eligible)
    if version is None:
        m = current_manifest(sink_root)
        if m is None:
            raise ValueError(f"no committed manifest in {sink_root}")
        return m
    return _load_manifest(sink_root, version)


def read_manifest_point_lookup(
    spark,
    sink_root: str,
    key_values: dict,
    version: int | None = None,
    ts: float | None = None,
) -> DataFrame:
    """Key-pruned read: hash the probe key with the sink's own bucket
    function (key order and n_buckets come from the manifest, literal
    types are cast to the stored column types so the hash matches the
    write path bit-for-bit) and scan ONLY that bucket's dir -- a
    1/n_buckets read however large the table, the hash-layout analog of
    partition-pruned point lookup. Returns an empty, correctly-typed
    frame when the key's bucket holds no data."""
    m = _resolve_manifest(sink_root, version, ts)
    if sorted(key_values) != sorted(m["keys"]):
        raise ValueError(
            f"lookup must bind exactly the sink keys {m['keys']}, "
            f"got {sorted(key_values)}"
        )
    sample = next(iter(_all_bucket_dirs(m)), None)
    if sample is None:
        return spark.createDataFrame([], m["schema"])
    schema = spark.read.parquet(os.path.join(sink_root, sample)).schema
    probes = [
        F.lit(key_values[k]).cast(schema[k].dataType) for k in m["keys"]
    ]
    # one bucket per spec: the current spec's, plus -- while an
    # evolve_bucket_spec migration is draining -- the legacy spec's
    # (a key lives in exactly one of the two, but which one is not
    # knowable from metadata; probing both keeps the read O(specs) dirs)
    specs = [(m["n_buckets"], m["buckets"])]
    if m.get("legacy"):
        specs.append((m["legacy"]["n_buckets"], m["legacy"]["buckets"]))
    row = (
        spark.range(1)
        .select(
            *[
                F.pmod(F.xxhash64(*probes), F.lit(n))
                .cast("int")
                .alias(f"b{i}")
                for i, (n, _) in enumerate(specs)
            ]
        )
        .collect()[0]
    )
    dirs = []
    for i, (_, buckets) in enumerate(specs):
        d = buckets.get(str(row[i]))
        if d is not None:
            dirs.append(d)
    if not dirs:
        return spark.createDataFrame([], schema)
    parts = [
        df.drop(_BUCKET)
        for df in _read_bucket_dirs(spark, sink_root, dirs)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    for k in m["keys"]:
        out = out.filter(
            F.col(k) == F.lit(key_values[k]).cast(schema[k].dataType)
        )
    return _align_to_schema(spark, out, m["schema"])


def _align_to_schema(spark, df: DataFrame, schema_str: str) -> DataFrame:
    """Project ``df`` onto the manifest's recorded schema: columns a
    particular dir predates (schema evolution) backfill as NULL, and
    the output column order is the recorded one -- so reads answer in
    the TABLE's schema regardless of which generation's files happened
    to serve them."""
    target = spark.createDataFrame([], schema_str).schema
    for f in target.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df.select(*[f.name for f in target.fields])


def read_manifest_as_of(
    spark,
    sink_root: str,
    version: int | None = None,
    ts: float | None = None,
) -> DataFrame:
    """Union-read of every bucket dir the resolved manifest references
    (per-dir reads, no cross-path partition inference). Resolution
    semantics match merge_sink.read_as_of: exact version, or newest
    commit_ts <= ts, or the current pointer; never a silent fallback."""
    m = _resolve_manifest(sink_root, version, ts)
    dirs = _all_bucket_dirs(m)
    if not dirs:
        # an empty table is a legitimate committed state (cold start or
        # full deletion) -- read it as an empty typed frame
        return spark.createDataFrame([], m["schema"])
    parts = [
        df.drop(_BUCKET)
        for df in _read_bucket_dirs(spark, sink_root, dirs)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return _align_to_schema(spark, out, m["schema"])


def _read_bucket_dirs(spark, sink_root: str, dirs: list[str]):
    """One scan PER GENERATION, not per bucket dir: all of a
    generation's referenced bucket dirs share the layout
    ``gen_k/mbucket=i``, so a single multi-path read with basePath =
    the generation dir recovers the bucket id as a partition column.
    Keeps manifest reads O(live generations) scans instead of
    O(n_buckets) -- the per-scan planning overhead is what dominates a
    many-small-files read."""
    from collections import defaultdict

    # group by the generation dir = parent of the mbucket= leaf; dirname
    # handles both relative refs (this sink's own generations) and
    # absolute refs (a shallow clone pointing into its source sink)
    by_gen: dict[str, list[str]] = defaultdict(list)
    for d in dirs:
        by_gen[os.path.dirname(d)].append(d)
    out = []
    for gen in sorted(by_gen):
        df = (
            spark.read.option("basePath", os.path.join(sink_root, gen))
            .parquet(*[os.path.join(sink_root, d) for d in by_gen[gen]])
        )
        out.append(df.withColumn(_BUCKET, F.col(_BUCKET).cast("int")))
    return out


def apply_merge_batch_bucketed(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    sink_root: str,
    keys: list[str],
    delete_col: str = "is_delete",
    n_buckets: int = 16,
    commit_ts: float | None = None,
    stream_batch_id: int | None = None,
) -> None:
    """One partition-scoped merge generation. Reads ONLY the buckets the
    batch's keys hash into, merges, writes them under the new version's
    ``gen_`` dir, and commits a manifest that points untouched buckets
    at their existing dirs. ``n_buckets`` is fixed at sink creation (the
    first commit records it; later calls must agree -- changing the
    bucket function would orphan every existing assignment).

    Replay guard vs version counter: foreachBatch ids and table VERSIONS
    are independent sequences. Maintenance commits (delete_where /
    update_where / evolve_bucket_spec / compact_manifest) allocate
    version cur+1 WITHOUT a stream batch behind them, so a guard keyed
    on the version counter would silently drop the stream's next
    micro-batches as replays after any maintenance commit --
    unrecoverable data loss. Streaming callers therefore pass
    ``stream_batch_id``: the replay guard keys on the manifest's own
    ``stream_batch_id`` field (the last APPLIED stream batch), and the
    version id is allocated as cur+1 independently. Batch callers that
    pass only ``batch_id`` keep the original id-is-version semantics
    (guarded on the version counter, which is correct when nothing else
    commits); every maintenance commit carries ``stream_batch_id``
    forward so a later stream batch is never misjudged."""
    os.makedirs(sink_root, exist_ok=True)
    cur = current_manifest(sink_root)
    if stream_batch_id is not None:
        last_stream = (
            cur.get("stream_batch_id", cur["batch_id"])
            if cur is not None
            else None
        )
        if last_stream is not None and stream_batch_id <= last_stream:
            return
        batch_id = cur["batch_id"] + 1 if cur is not None else stream_batch_id
    if cur is not None:
        if stream_batch_id is None and batch_id <= cur["batch_id"]:
            return
        if cur["n_buckets"] != n_buckets:
            raise ValueError(
                f"sink was created with n_buckets={cur['n_buckets']}, "
                f"got {n_buckets}"
            )
        if cur["keys"] != list(keys):
            raise ValueError(
                f"sink was created with keys={cur['keys']}, got {keys}"
            )
    if _BUCKET in batch_df.columns:
        raise ValueError(
            f"batch column name {_BUCKET!r} collides with the sink's "
            "internal bucket column"
        )
    legacy = cur.get("legacy") if cur is not None else None
    bucket_expr = F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")
    # pin the batch: it is consumed twice (touched-bucket collect, then
    # the merge write), and a batch arriving as an expensive derived plan
    # would otherwise recompute per consumption; under foreachBatch the
    # micro-batch is small by contract, so the checkpoint is O(batch)
    batch = batch_df.withColumn(_BUCKET, bucket_expr).localCheckpoint()
    touched = sorted(
        r[0] for r in batch.select(_BUCKET).distinct().collect()
    )  # O(n_buckets) driver values
    data_cols = [c for c in batch_df.columns if c != delete_col]

    base_parts = []
    if cur is not None:
        # Schema evolution (Delta-style mergeSchema), same contract as
        # the flat sink: a batch may ADD columns -- history rows
        # NULL-backfill at read and merge time -- but dropping a stored
        # column is rejected loudly (silent column loss in a CDC feed
        # is an upstream contract break, not evolution). Checked
        # against the manifest's RECORDED schema, not just the touched
        # dirs, so untouched buckets count too.
        stored_cols = spark.createDataFrame([], cur["schema"]).columns
        dropped = [c for c in stored_cols if c not in data_cols]
        if dropped:
            raise ValueError(
                f"batch {batch_id} drops snapshot columns {dropped}; "
                "a CDC post-image feed may add columns (NULL-backfilled) "
                "but never silently lose them"
            )
        touched_dirs = [
            d
            for b in touched
            if (d := cur["buckets"].get(str(b))) is not None
        ]
        base_parts = _read_bucket_dirs(spark, sink_root, touched_dirs)
    if base_parts:
        base = base_parts[0]
        for p in base_parts[1:]:
            base = base.unionByName(p, allowMissingColumns=True)
        for c in data_cols:
            if c not in base.columns:
                base = base.withColumn(
                    c, F.lit(None).cast(batch.schema[c].dataType)
                )
        base = base.select(*data_cols, _BUCKET)
    else:
        base = spark.createDataFrame(
            [], batch.select(*data_cols, _BUCKET).schema
        )
    # keys determine the bucket, so one global merge over the touched
    # union is exactly the per-bucket merge
    merged = merge_upsert(base, batch, keys, delete_col=delete_col)
    gen = f"gen_{batch_id}"
    (
        # one shuffle partition per touched bucket: every writer task owns
        # whole buckets, so each bucket dir gets O(1) files instead of
        # every one of spark.sql.shuffle.partitions tasks spraying a tiny
        # file into every dir (at real scale, raise toward cores and let
        # multiple tasks share big buckets via a (bucket, salt) key)
        merged.repartition(max(len(touched), 1), F.col(_BUCKET))
        .write.mode("overwrite")
        .partitionBy(_BUCKET)
        .parquet(os.path.join(sink_root, gen))
    )
    # a touched bucket whose merged content is empty writes no dir and
    # must leave the manifest (all its rows were deleted)
    written = {
        int(name.split("=", 1)[1]): f"{gen}/{name}"
        for name in os.listdir(os.path.join(sink_root, gen))
        if name.startswith(f"{_BUCKET}=")
    }
    buckets = dict(cur["buckets"]) if cur is not None else {}
    for b in touched:
        buckets.pop(str(b), None)
    for b, d in written.items():
        buckets[str(b)] = d
    # Partition-spec evolution (evolve_bucket_spec): rows written before
    # the spec change live in LEGACY buckets hashed under the OLD
    # n_buckets. The batch's keys must leave those dirs (a key lives in
    # exactly one spec), so the touched legacy buckets -- and only those
    # -- rewrite with the batch's keys anti-joined out, still under
    # their old bucket ids. New post-images land in the current spec
    # above; legacy thus drains lazily, one touched bucket at a time,
    # exactly Iceberg's rewritten-data-adopts-the-new-spec behavior.
    new_legacy = None
    if legacy is not None:
        lmap = dict(legacy["buckets"])
        l_n = int(legacy["n_buckets"])
        l_expr = F.pmod(F.xxhash64(*keys), F.lit(l_n)).cast("int")
        touched_l = sorted(
            r[0]
            for r in batch.select(l_expr.alias("lb")).distinct().collect()
        )
        ldirs = [
            d
            for b in touched_l
            if (d := lmap.get(str(b))) is not None
        ]
        if ldirs:
            parts = _read_bucket_dirs(spark, sink_root, ldirs)
            lbase = parts[0]
            for p in parts[1:]:
                lbase = lbase.unionByName(p, allowMissingColumns=True)
            key_df = batch.select(*keys).distinct()
            survivors = lbase.join(
                F.broadcast(key_df), on=list(keys), how="left_anti"
            )
            lgen = f"gen_{batch_id}_legacy"
            (
                survivors.repartition(max(len(ldirs), 1), F.col(_BUCKET))
                .write.mode("overwrite")
                .partitionBy(_BUCKET)
                .parquet(os.path.join(sink_root, lgen))
            )
            written_l = {
                int(name.split("=", 1)[1]): f"{lgen}/{name}"
                for name in os.listdir(os.path.join(sink_root, lgen))
                if name.startswith(f"{_BUCKET}=")
            }
            for b in touched_l:
                lmap.pop(str(b), None)
            for b, d in written_l.items():
                lmap[str(b)] = d
        if lmap:
            new_legacy = {"n_buckets": l_n, "buckets": lmap}
    manifest = {
        "batch_id": batch_id,
        "commit_ts": time.time() if commit_ts is None else commit_ts,
        "n_buckets": n_buckets,
        "keys": list(keys),  # bucket-function self-description
        # recorded so a fully-empty table (cold start, or every row
        # deleted) still reads as an empty, correctly-typed frame
        "schema": batch.select(*data_cols).schema.simpleString(),
        "buckets": buckets,
    }
    if new_legacy is not None:
        manifest["legacy"] = new_legacy
    # the stream high-water mark: this batch's id if streamed, else
    # carried forward so maintenance commits never reset it
    carried = (
        stream_batch_id
        if stream_batch_id is not None
        else (cur.get("stream_batch_id") if cur is not None else None)
    )
    if carried is not None:
        manifest["stream_batch_id"] = carried
    _commit_manifest(sink_root, batch_id, manifest)


def evolve_bucket_spec(
    sink_root: str, new_n_buckets: int, commit_ts: float | None = None
) -> int:
    """Partition-spec evolution (Iceberg's evolve-spec analog): change
    the sink's bucket count with a METADATA-ONLY commit -- zero data
    bytes move, however large the table. Every existing bucket dir is
    demoted to a LEGACY spec block (its old n_buckets recorded beside
    it); the current spec starts empty. Readers union both specs;
    point lookups probe one bucket per spec; writers drain the legacy
    block lazily (a merged key's old row leaves its legacy dir as the
    new post-image lands in the current spec). ``compact_manifest``
    completes the migration eagerly by rewriting the whole state under
    the current spec, after which the legacy block disappears.

    One evolution may be in flight at a time: evolving again while
    legacy dirs remain would need a spec LIST (this module keeps the
    two-spec invariant simple); compact first. Returns the committed
    version id."""
    cur = current_manifest(sink_root)
    if cur is None:
        raise ValueError(f"no committed manifest in {sink_root}")
    if cur.get("legacy"):
        raise ValueError(
            "a previous spec evolution is still draining; run "
            "compact_manifest before evolving again"
        )
    if new_n_buckets == cur["n_buckets"]:
        raise ValueError(
            f"sink already uses n_buckets={new_n_buckets}"
        )
    new_id = cur["batch_id"] + 1
    manifest = {
        "batch_id": new_id,
        "commit_ts": time.time() if commit_ts is None else commit_ts,
        "n_buckets": new_n_buckets,
        "keys": list(cur["keys"]),
        "schema": cur["schema"],
        "buckets": {},
        "legacy": {
            "n_buckets": cur["n_buckets"],
            "buckets": dict(cur["buckets"]),
        },
    }
    if cur.get("stream_batch_id") is not None:
        manifest["stream_batch_id"] = cur["stream_batch_id"]
    _commit_manifest(sink_root, new_id, manifest, exclusive=True)
    return new_id


def _all_bucket_dirs(m: dict) -> list[str]:
    """Every data dir a manifest references: current spec + any
    still-draining legacy spec."""
    dirs = list(m["buckets"].values())
    if m.get("legacy"):
        dirs.extend(m["legacy"]["buckets"].values())
    return dirs


def compact_manifest(spark, sink_root: str) -> int:
    """OPTIMIZE: rewrite the CURRENT state into one fresh generation and
    commit a manifest whose every bucket points there. Data content is
    unchanged (pytest-pinned); what changes is layout age -- after the
    horizon passes, ``vacuum_manifests`` can reclaim EVERY older
    generation, because nothing retained references them anymore. This
    is the escape valve for a long-lived sink whose live manifest
    otherwise pins a little of every historical generation forever
    (file reuse cuts write amplification; compaction caps the read-side
    generation spread it accumulates). Returns the new batch_id.

    The rewrite re-buckets with the sink's own recorded key/bucket
    function, so a compacted bucket equals the union of that bucket's
    rows across the generations it previously spanned."""
    cur = current_manifest(sink_root)
    if cur is None:
        raise ValueError(f"no committed manifest in {sink_root}")
    state = read_manifest_as_of(spark, sink_root)
    new_id = cur["batch_id"] + 1
    # is_delete=False post-images of the full state: the standard apply
    # path IS the rewrite (replay guard passes: new_id > cur id; every
    # bucket is touched because every live key reappears)
    full = state.withColumn("is_delete", F.lit(False))
    apply_merge_batch_bucketed(
        spark,
        full,
        new_id,
        sink_root,
        cur["keys"],
        n_buckets=cur["n_buckets"],
        commit_ts=cur["commit_ts"],
    )
    return new_id


def describe_history(spark, sink_root: str) -> DataFrame:
    """DESCRIBE HISTORY as a queryable DataFrame: one row per retained
    manifest with its commit time, live bucket count, file count, and
    total bytes -- plus how many of its bucket pointers REUSE an
    earlier generation's files (the write-amplification audit column:
    reused/total is the fraction of the table each commit did NOT
    rewrite). Metadata only: reads manifests + file sizes, never data
    pages; O(versions x buckets) driver work, the same shape as any
    table format's transaction-log read."""
    rows = []
    for v in list_manifest_versions(sink_root):
        m = _load_manifest(sink_root, v)
        n_files = 0
        total = 0
        reused = 0
        own = {
            f"gen_{m['batch_id']}",
            f"gen_{m['batch_id']}_legacy",
            f"gen_{m['batch_id']}_dml",
            f"gen_{m['batch_id']}_dml_legacy",
        }
        for d in _all_bucket_dirs(m):
            if d.split("/", 1)[0] not in own:
                reused += 1
            full = os.path.join(sink_root, d)
            for name in os.listdir(full):
                if name.endswith(".parquet"):
                    n_files += 1
                    total += os.path.getsize(os.path.join(full, name))
        rows.append(
            (
                v,
                float(m["commit_ts"]),
                len(_all_bucket_dirs(m)),
                reused,
                n_files,
                total,
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, commit_ts double, n_buckets_live int, "
        "n_buckets_reused int, n_files bigint, total_bytes bigint",
    )


def manifest_files(spark, sink_root: str, version: int | None = None) -> DataFrame:
    """The files metadata table (Iceberg's .files analog) for one
    retained version: bucket id, generation dir, file count, bytes."""
    m = _resolve_manifest(sink_root, version, None)
    rows = []
    blocks = [m["buckets"]]
    if m.get("legacy"):
        blocks.append(m["legacy"]["buckets"])
    for block in blocks:
        for b, d in sorted(block.items(), key=lambda kv: int(kv[0])):
            full = os.path.join(sink_root, d)
            files = [n for n in os.listdir(full) if n.endswith(".parquet")]
            rows.append(
                (
                    int(b),
                    d.split("/", 1)[0],
                    len(files),
                    sum(
                        os.path.getsize(os.path.join(full, n)) for n in files
                    ),
                )
            )
    return spark.createDataFrame(
        rows, "bucket int, generation string, n_files bigint, bytes bigint"
    )


def read_manifest_changes(
    spark,
    sink_root: str,
    from_version: int,
    to_version: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Change Data Feed over the manifest sink: the same endpoint-diff
    classification as merge_sink.read_changes (shared core), resolved
    through manifests. Keys default to the sink's own recorded key
    columns."""
    from .merge_sink import classify_changes

    if from_version >= to_version:
        raise ValueError(
            f"from_version {from_version} must precede to_version "
            f"{to_version}"
        )
    if keys is None:
        keys = _resolve_manifest(sink_root, to_version, None)["keys"]
    a = read_manifest_as_of(spark, sink_root, from_version)
    b = read_manifest_as_of(spark, sink_root, to_version)
    return classify_changes(a, b, keys)


def forget_keys_bucketed(
    spark,
    sink_root: str,
    key_rows: list[tuple],
) -> dict:
    """Partition-scoped right-to-be-forgotten: erase keys from every
    retained manifest's history by rewriting ONLY the bucket dirs the
    keys hash into -- O(generations x affected buckets) I/O however
    large the table, where the flat sink's erasure rewrites everything.
    Buckets not containing any forgotten key are untouched (their files
    keep their bytes -- test-asserted). Returns {dir: rows_removed}.

    Same non-atomic per-dir swap caveat as merge_sink.forget_keys:
    quiesce writers first.

    SHALLOW CLONES ARE REFUSED: a shallow clone's manifests reference
    the SOURCE sink's bucket dirs by absolute path, and rewriting those
    in place would silently delete rows from the source table (whose
    own manifests still reference the same dirs) -- cross-sink data
    loss, not erasure. Erase on a deep clone, or run compact_manifest
    first so every live dir is local; pre-clone history manifests that
    still hold absolute refs must be vacuumed before erasure can be
    total."""
    import shutil

    any_manifest = current_manifest(sink_root)
    if any_manifest is None:
        raise ValueError(f"no committed manifest in {sink_root}")
    for v in list_manifest_versions(sink_root):
        m = _load_manifest(sink_root, v)
        if any(os.path.isabs(d) for d in _all_bucket_dirs(m)):
            raise ValueError(
                f"retained manifest {v} in {sink_root} references "
                "bucket dirs outside this sink (a shallow clone); "
                "erasing in place would delete rows from the SOURCE "
                "table. Deep-clone instead, or compact_manifest + "
                "vacuum_manifests so every retained dir is local, then "
                "retry."
            )
    keys = any_manifest["keys"]
    # cast probe keys to the STORED column types before hashing:
    # xxhash64 is type-sensitive, so a bigint literal probing an int
    # key column would hash into the wrong bucket and silently erase
    # nothing (the point-lookup path guards the same way)
    stored = spark.createDataFrame([], any_manifest["schema"]).schema
    key_df = spark.createDataFrame(key_rows, schema=keys).select(
        *[F.col(k).cast(stored[k].dataType) for k in keys]
    )
    # a retained manifest may use a different spec than the current one
    # (pre-evolution versions, or a draining legacy block), so target
    # buckets are computed per distinct n_buckets across history
    spec_ns = set()
    for v in list_manifest_versions(sink_root):
        m = _load_manifest(sink_root, v)
        spec_ns.add(int(m["n_buckets"]))
        if m.get("legacy"):
            spec_ns.add(int(m["legacy"]["n_buckets"]))
    targets_by_n: dict[int, set[int]] = {}
    for n in sorted(spec_ns):
        targets_by_n[n] = {
            r.b
            for r in key_df.select(
                F.pmod(F.xxhash64(*keys), F.lit(n)).cast("int").alias("b")
            ).collect()
        }
    # every generation dir any retained manifest references for a
    # target bucket (under that manifest's own spec) rewrites in
    # place, once
    dirs = set()
    for v in list_manifest_versions(sink_root):
        m = _load_manifest(sink_root, v)
        for b, d in m["buckets"].items():
            if int(b) in targets_by_n[int(m["n_buckets"])]:
                dirs.add(d)
        if m.get("legacy"):
            ln = int(m["legacy"]["n_buckets"])
            for b, d in m["legacy"]["buckets"].items():
                if int(b) in targets_by_n[ln]:
                    dirs.add(d)
    bkey = F.broadcast(key_df)
    ordered = sorted(dirs)
    # audit counts for EVERY dir in ONE job (key-projected union, tagged
    # by dir, semi-joined against the probe keys) -- the per-dir
    # before/after count pair cost 2 extra jobs per rewritten dir, which
    # dominated wall time at many-generation sinks (3 jobs/dir -> 1 +
    # 1/dir)
    removed = {rel: 0 for rel in ordered}
    if ordered:
        tagged = None
        for rel in ordered:
            part = (
                spark.read.parquet(os.path.join(sink_root, rel))
                .select(*keys)
                .withColumn("_rel", F.lit(rel))
            )
            tagged = part if tagged is None else tagged.unionByName(part)
        for r in (
            tagged.join(bkey, on=keys, how="left_semi")
            .groupBy("_rel")
            .count()
            .collect()
        ):
            removed[r["_rel"]] = r["count"]
    # rewrite grouped BY GENERATION: one anti-join + one partitioned
    # write per generation dir instead of one Spark job per bucket dir
    # (the per-dir form cost ~0.6 s of job overhead x every affected
    # bucket x every generation); the swap stays per-dir, so partially-
    # applied failure modes are unchanged
    from collections import defaultdict

    by_gen: dict[str, list[str]] = defaultdict(list)
    for rel in ordered:
        by_gen[os.path.dirname(rel)].append(rel)
    for gen, rels in sorted(by_gen.items()):
        df = _read_bucket_dirs(spark, sink_root, rels)[0]
        kept = df.join(bkey, on=keys, how="left_anti")
        tmpgen = os.path.join(sink_root, os.path.basename(gen) + ".forget_tmp")
        (
            kept.repartition(max(len(rels), 1), F.col(_BUCKET))
            .write.mode("overwrite")
            .partitionBy(_BUCKET)
            .parquet(tmpgen)
        )
        empty = kept.drop(_BUCKET).limit(0)
        for rel in rels:
            full = os.path.join(sink_root, rel)
            src = os.path.join(tmpgen, os.path.basename(rel))
            shutil.rmtree(full)
            if os.path.isdir(src):
                os.replace(src, full)
            else:
                # every row of this bucket was erased; the dir is still
                # referenced by manifests and must read as empty, typed
                empty.write.mode("overwrite").parquet(full)
        shutil.rmtree(tmpgen, ignore_errors=True)
    return removed


def vacuum_manifests(sink_root: str, keep_last: int = 2) -> dict:
    """Reference-counting retention: drop manifests older than the
    newest ``keep_last`` (the current pointer target always survives),
    then remove every ``gen_*`` bucket dir NO retained manifest
    references. Returns {"manifests": [...], "dirs": [...]} removed.
    A dir written generations ago but still referenced by the current
    manifest is untouchable -- file reuse makes retention a refcount,
    not an age check."""
    keep_last = max(1, keep_last)
    versions = list_manifest_versions(sink_root)
    cur = current_manifest(sink_root)
    cur_id = cur["batch_id"] if cur else None
    drop = [
        v for v in versions[:-keep_last] if v != cur_id
    ]
    keep = [v for v in versions if v not in drop]
    referenced = set()
    for v in keep:
        referenced.update(_all_bucket_dirs(_load_manifest(sink_root, v)))
    removed_dirs = []
    for gen in sorted(os.listdir(sink_root)):
        gd = os.path.join(sink_root, gen)
        if not (gen.startswith("gen_") and os.path.isdir(gd)):
            continue
        for name in sorted(os.listdir(gd)):
            rel = f"{gen}/{name}"
            if name.startswith(f"{_BUCKET}=") and rel not in referenced:
                shutil.rmtree(os.path.join(gd, name))
                removed_dirs.append(rel)
        # only marker files (_SUCCESS) left -> the generation is dead
        if not any(
            n.startswith(f"{_BUCKET}=") for n in os.listdir(gd)
        ):
            shutil.rmtree(gd)
    for v in drop:
        os.remove(_manifest_path(sink_root, v))
    return {"manifests": drop, "dirs": removed_dirs}


def start_bucketed_merge_apply(
    changes_stream: DataFrame,
    sink_root: str,
    checkpoint_path: str,
    keys: list[str],
    delete_col: str = "is_delete",
    n_buckets: int = 16,
):
    """Streaming wrapper: apply a CDC post-image stream through the
    partition-scoped merge, one manifest commit per micro-batch."""
    spark = changes_stream.sparkSession
    # stream_batch_id (not the version counter) keys the replay guard:
    # maintenance commits interleaved with the stream bump versions past
    # foreachBatch ids, and a version-keyed guard would then drop live
    # batches as replays
    return start(
        changes_stream,
        checkpoint_path,
        lambda df, batch_id: apply_merge_batch_bucketed(
            spark, df, batch_id, sink_root, keys, delete_col=delete_col,
            n_buckets=n_buckets, stream_batch_id=batch_id,
        ),
    )


# --- Secondary-column Bloom skipping index -----------------------------------

def _bloom_index_dir(sink_root: str, version: int, column: str) -> str:
    return os.path.join(sink_root, f"bloomidx_{version}_{column}")


def build_bloom_index(
    spark,
    sink_root: str,
    column: str,
    m: int = 4096,
    depth: int = 4,
    version: int | None = None,
) -> str:
    """Data-skipping index on a NON-key column: per live bucket dir, the
    Bloom set-bit table of the column's values (hashing identical to
    operators/bloom.py -- disjoint 32-bit md5 slices of the value's
    string form, mod m). The manifest's own pruning only serves the
    bucket KEY; this sidecar lets equality lookups on any other column
    skip every bucket whose filter proves the value absent (Bloom's
    no-false-negative guarantee: skipping is always sound, false
    positives only cost an extra bucket read). Sidecar size is
    <= n_buckets x m rows regardless of table size; the build is one
    distributed distinct over (bucket, bit). Returns the sidecar path;
    the index is pinned to ONE manifest version (data changes =>
    rebuild, same as any other OPTIMIZE-class maintenance)."""
    from ..operators.cms import _cms_col, _depth_dim

    mft = _resolve_manifest(sink_root, version, None)
    if mft.get("legacy"):
        # bucket ids collide across specs, and the sidecar's schema is
        # keyed by bare bucket id -- an index over a mid-migration table
        # would be ambiguous. Finish the migration first.
        raise ValueError(
            "bloom index requires a single bucket spec; run "
            "compact_manifest to finish the in-flight spec evolution"
        )
    ver = mft["batch_id"]
    out = _bloom_index_dir(sink_root, ver, column)
    dirs = list(mft["buckets"].values())
    if not dirs:
        spark.createDataFrame([], "bucket int, bit int").write.mode(
            "overwrite"
        ).parquet(out)
        return out
    parts = _read_bucket_dirs(spark, sink_root, dirs)
    base = parts[0]
    for p in parts[1:]:
        base = base.unionByName(p, allowMissingColumns=True)
    dim = _depth_dim(base, depth)
    bits = (
        base.select(
            F.col(_BUCKET).alias("bucket"),
            F.col(column).cast("string").cast("binary").alias("_v"),
        )
        .where(F.col("_v").isNotNull())
        .crossJoin(dim)
        .select(
            "bucket",
            _cms_col(F.col("_v"), F.col("i"), m).cast("int").alias("bit"),
        )
        .distinct()
    )
    bits.write.mode("overwrite").parquet(out)
    return out


def _bloom_probe_bits(value, m: int, depth: int) -> list[int]:
    """Driver-side twin of the build's hash: i-th 32-bit md5 slice of
    str(value), mod m -- bit-identical to _cms_col on the executors."""
    import hashlib

    h = hashlib.md5(str(value).encode()).hexdigest()
    return [int(h[i * 8:(i + 1) * 8], 16) % m for i in range(depth)]


def bloom_candidate_buckets(
    spark,
    sink_root: str,
    column: str,
    value,
    m: int = 4096,
    depth: int = 4,
    version: int | None = None,
) -> list[int]:
    """Buckets the index CANNOT rule out for column == value: those
    holding all ``depth`` probe bits. Reads only the (tiny) sidecar,
    filtered to the probe's bit positions before it crosses the
    driver."""
    mft = _resolve_manifest(sink_root, version, None)
    idx = _bloom_index_dir(sink_root, mft["batch_id"], column)
    if not os.path.isdir(idx):
        raise ValueError(
            f"no bloom index for column {column!r} at version "
            f"{mft['batch_id']} -- run build_bloom_index first"
        )
    probe = _bloom_probe_bits(value, m, depth)
    rows = (
        spark.read.parquet(idx)
        .where(F.col("bit").isin(probe))
        .groupBy("bucket")
        .agg(F.count_distinct("bit").alias("nb"))
        .where(F.col("nb") == len(set(probe)))
        .collect()
    )
    return sorted(r.bucket for r in rows)


def read_manifest_bloom_lookup(
    spark,
    sink_root: str,
    column: str,
    value,
    m: int = 4096,
    depth: int = 4,
    version: int | None = None,
) -> DataFrame:
    """Equality lookup on a non-key column through the Bloom sidecar:
    scan ONLY the candidate buckets, then apply the exact filter.
    Result is provably identical to filtering the full table (no false
    negatives); I/O is proportional to the value's true bucket spread
    plus the false-positive sliver, not to table size."""
    mft = _resolve_manifest(sink_root, version, None)
    cands = bloom_candidate_buckets(
        spark, sink_root, column, value, m, depth, version
    )
    dirs = [
        d for b, d in mft["buckets"].items() if int(b) in set(cands)
    ]
    schema = mft["schema"]
    if not dirs:
        return spark.createDataFrame([], schema)
    parts = _read_bucket_dirs(spark, sink_root, dirs)
    base = parts[0]
    for p in parts[1:]:
        base = base.unionByName(p, allowMissingColumns=True)
    col_type = base.schema[column].dataType
    return base.where(
        F.col(column) == F.lit(value).cast(col_type)
    ).drop(_BUCKET)


def read_manifest_bloom_lookup_many(
    spark,
    sink_root: str,
    column: str,
    values: list,
    m: int = 4096,
    depth: int = 4,
    version: int | None = None,
) -> DataFrame:
    """Multi-value Bloom lookup: the UNION of each value's candidate
    buckets is read ONCE, then the exact IN filter applies -- never a
    per-value scan loop, so probing a subject's k order keys costs
    |union of candidate buckets| dirs, not k reads (the DSAR shape:
    the probe list is small and bounded by one subject's activity, the
    table is not). Soundness is per-value Bloom soundness: no false
    negatives, false positives only add bucket reads.

    The sidecar itself is also read ONCE: all values' probe bits are
    computed up front (driver-side md5, identical to the build hash),
    the sidecar is filtered to the UNION of probe bits in a single
    job, and per-value all-bits-present resolution happens over that
    bounded collect (<= n_buckets x |values| x depth rows) -- one
    Spark job for k probe values, not k job launches (each sidecar
    job is tiny, but k driver-side launches dominate latency for a
    multi-key subject)."""
    mft = _resolve_manifest(sink_root, version, None)
    cands: set[int] = set()
    if values:
        idx = _bloom_index_dir(sink_root, mft["batch_id"], column)
        if not os.path.isdir(idx):
            raise ValueError(
                f"no bloom index for column {column!r} at version "
                f"{mft['batch_id']} -- run build_bloom_index first"
            )
        probes = {v: set(_bloom_probe_bits(v, m, depth)) for v in values}
        union_bits = sorted(set().union(*probes.values()))
        have: dict[int, set[int]] = {}
        for r in (
            spark.read.parquet(idx)
            .where(F.col("bit").isin(union_bits))
            .select("bucket", "bit")
            .distinct()
            .collect()
        ):
            have.setdefault(r.bucket, set()).add(r.bit)
        cands = {
            b
            for b, bits in have.items()
            if any(p <= bits for p in probes.values())
        }
    dirs = [d for b, d in mft["buckets"].items() if int(b) in cands]
    schema = mft["schema"]
    if not dirs or not values:
        return spark.createDataFrame([], schema)
    parts = _read_bucket_dirs(spark, sink_root, dirs)
    base = parts[0]
    for p in parts[1:]:
        base = base.unionByName(p, allowMissingColumns=True)
    return base.where(F.col(column).isin(values)).drop(_BUCKET)


# --- CLONE: zero-copy (shallow) or full-copy (deep) table duplication --------

def clone_manifest(
    spark,
    src_root: str,
    dst_root: str,
    version: int | None = None,
    ts: float | None = None,
    deep: bool = False,
    commit_ts: float | None = None,
) -> int:
    """Delta CLONE analog over the manifest sink: materialize a new,
    independently writable sink whose version 0 is the source's resolved
    state (exact version, timestamp, or current).

    shallow (default): a METADATA-ONLY commit -- the clone's manifest
    points at the source's bucket dirs by absolute path; zero data bytes
    move, so cloning a 100 TB table costs one JSON write. The standard
    shallow-clone hazard carries over unchanged from Delta: the source's
    vacuum does not know about clone references, so vacuuming the source
    past the cloned version breaks the clone (tested, loudly -- the read
    fails on the missing dir rather than silently returning less data).
    Writes to the clone create its OWN generations; copy-on-write means
    a merged bucket is rewritten locally while untouched buckets keep
    pointing at the source.

    deep: copies every referenced bucket dir under the clone root
    (relative refs), fully severing the clone from the source's
    retention. Returns the cloned version id (always 0)."""
    mft = _resolve_manifest(src_root, version, ts)
    os.makedirs(dst_root, exist_ok=True)
    if current_manifest(dst_root) is not None:
        raise ValueError(f"clone target {dst_root} is already a sink")
    buckets: dict[str, str] = {}
    for b, d in mft["buckets"].items():
        src_dir = d if os.path.isabs(d) else os.path.join(src_root, d)
        if deep:
            rel = os.path.join("gen_0", f"{_BUCKET}={b}")
            shutil.copytree(src_dir, os.path.join(dst_root, rel))
            buckets[b] = rel
        else:
            buckets[b] = src_dir
    manifest = {
        "batch_id": 0,
        "commit_ts": time.time() if commit_ts is None else commit_ts,
        "n_buckets": mft["n_buckets"],
        "keys": list(mft["keys"]),
        "schema": mft["schema"],
        "buckets": buckets,
        "cloned_from": {
            "src": os.path.abspath(src_root),
            "version": mft["batch_id"],
            "deep": deep,
        },
    }
    if mft.get("legacy"):
        lmap: dict[str, str] = {}
        for b, d in mft["legacy"]["buckets"].items():
            src_dir = d if os.path.isabs(d) else os.path.join(src_root, d)
            if deep:
                rel = os.path.join("gen_0_legacy", f"{_BUCKET}={b}")
                shutil.copytree(src_dir, os.path.join(dst_root, rel))
                lmap[b] = rel
            else:
                lmap[b] = src_dir
        manifest["legacy"] = {
            "n_buckets": mft["legacy"]["n_buckets"],
            "buckets": lmap,
        }
    _commit_manifest(dst_root, 0, manifest)
    return 0


# --- Predicate DML: DELETE WHERE / UPDATE WHERE as new commits ---------------

class CommitConflictError(RuntimeError):
    """A concurrent writer committed between this DML's snapshot read and
    its pointer swap (Delta's ConcurrentModificationException analog)."""


def _dml_commit(
    spark,
    sink_root: str,
    predicate: str,
    rewrite,
    commit_ts: float | None,
) -> dict:
    """Shared partition-scoped DML core: find the buckets holding rows
    matching ``predicate`` (one filtered scan of the current state, the
    bucket column rides along), rewrite ONLY those buckets through
    ``rewrite(bucket_df)`` into a fresh generation, and commit a new
    manifest that carries every untouched bucket pointer forward
    verbatim. Unlike forget_keys (retroactive, in-place), DML is a
    normal COMMIT: history keeps the pre-DML state, time travel and the
    change feed see the transition, vacuum retention applies."""
    cur = current_manifest(sink_root)
    if cur is None:
        raise ValueError(f"no committed manifest in {sink_root}")
    new_id = cur["batch_id"] + 1
    # staged under a suffix the merge path never uses: a concurrent
    # writer committing the SAME id writes gen_{id}/, so a colliding
    # name would let this DML's staging write clobber that commit's
    # data before the conflict check below ever runs (the lost-update
    # the check exists to prevent). Delta stages uniquely-named data
    # files for exactly this reason; on conflict the staged dirs are
    # unreferenced garbage vacuum reclaims.
    gen = f"gen_{new_id}_dml"
    dirs = list(cur["buckets"].values())
    touched: set[int] = set()
    if dirs:
        parts = _read_bucket_dirs(spark, sink_root, dirs)
        base = parts[0]
        for p in parts[1:]:
            base = base.unionByName(p, allowMissingColumns=True)
        touched = {
            r.b
            for r in base.where(predicate)
            .select(F.col(_BUCKET).alias("b"))
            .distinct()
            .collect()
        }
    buckets = dict(cur["buckets"])
    rewritten = {}
    if touched:
        tdirs = [
            d for b, d in cur["buckets"].items() if int(b) in touched
        ]
        parts = _read_bucket_dirs(spark, sink_root, tdirs)
        tb = parts[0]
        for p in parts[1:]:
            tb = tb.unionByName(p, allowMissingColumns=True)
        out = rewrite(tb)
        (
            out.repartition(max(len(touched), 1), F.col(_BUCKET))
            .write.mode("overwrite")
            .partitionBy(_BUCKET)
            .parquet(os.path.join(sink_root, gen))
        )
        written = {
            int(name.split("=", 1)[1]): f"{gen}/{name}"
            for name in os.listdir(os.path.join(sink_root, gen))
            if name.startswith(f"{_BUCKET}=")
        }
        for b in touched:
            buckets.pop(str(b), None)
        for b, d in written.items():
            buckets[str(b)] = d
        rewritten = {str(b): written.get(b) for b in sorted(touched)}
    # a draining legacy spec block (evolve_bucket_spec) is part of the
    # table: its matching buckets rewrite the same way, under their own
    # old bucket ids, into a sibling generation dir
    new_legacy = None
    legacy = cur.get("legacy")
    if legacy is not None:
        lmap = dict(legacy["buckets"])
        ldirs = list(lmap.values())
        if ldirs:
            parts = _read_bucket_dirs(spark, sink_root, ldirs)
            lb = parts[0]
            for p in parts[1:]:
                lb = lb.unionByName(p, allowMissingColumns=True)
            touched_l = {
                r.b
                for r in lb.where(predicate)
                .select(F.col(_BUCKET).alias("b"))
                .distinct()
                .collect()
            }
            if touched_l:
                tdirs = [
                    d for b, d in lmap.items() if int(b) in touched_l
                ]
                parts = _read_bucket_dirs(spark, sink_root, tdirs)
                tb = parts[0]
                for p in parts[1:]:
                    tb = tb.unionByName(p, allowMissingColumns=True)
                out = rewrite(tb)
                lgen = f"gen_{new_id}_dml_legacy"
                (
                    out.repartition(max(len(touched_l), 1), F.col(_BUCKET))
                    .write.mode("overwrite")
                    .partitionBy(_BUCKET)
                    .parquet(os.path.join(sink_root, lgen))
                )
                written_l = {
                    int(name.split("=", 1)[1]): f"{lgen}/{name}"
                    for name in os.listdir(os.path.join(sink_root, lgen))
                    if name.startswith(f"{_BUCKET}=")
                }
                for b in touched_l:
                    lmap.pop(str(b), None)
                for b, d in written_l.items():
                    lmap[str(b)] = d
                rewritten.update(
                    {
                        f"legacy:{b}": written_l.get(b)
                        for b in sorted(touched_l)
                    }
                )
        if lmap:
            new_legacy = {
                "n_buckets": legacy["n_buckets"],
                "buckets": lmap,
            }
    manifest = {
        "batch_id": new_id,
        "commit_ts": time.time() if commit_ts is None else commit_ts,
        "n_buckets": cur["n_buckets"],
        "keys": list(cur["keys"]),
        "schema": cur["schema"],
        "buckets": buckets,
    }
    if new_legacy is not None:
        manifest["legacy"] = new_legacy
    if cur.get("stream_batch_id") is not None:
        manifest["stream_batch_id"] = cur["stream_batch_id"]
    # optimistic concurrency: the rewrite was computed against
    # cur["batch_id"]'s state; if any other writer committed while this
    # DML scanned/rewrote, blindly swapping the pointer would silently
    # DISCARD that commit (lost update). Delta raises
    # ConcurrentModificationException; here the manifest FILE is the
    # commit arbiter -- _commit_manifest publishes manifest_{new_id}
    # with an exclusive link, so two DMLs racing from the same base
    # version cannot both commit (check-then-swap alone would let the
    # later os.replace silently swallow the earlier commit). The
    # pointer pre-check below keeps the common case loud and cheap.
    latest = current_manifest(sink_root)
    if latest is not None and latest["batch_id"] != cur["batch_id"]:
        raise CommitConflictError(
            f"concurrent commit detected: DML read version "
            f"{cur['batch_id']} but the pointer now names version "
            f"{latest['batch_id']}; re-run the DML against the new state"
        )
    _commit_manifest(sink_root, new_id, manifest, exclusive=True)
    return {"version": new_id, "touched_buckets": rewritten}


def delete_where(
    spark, sink_root: str, predicate: str, commit_ts: float | None = None
) -> dict:
    """DELETE FROM sink WHERE predicate, as a partition-scoped commit:
    only buckets containing matching rows rewrite; a bucket whose rows
    all match disappears from the manifest (empty buckets hold no dir).
    Returns {version, touched_buckets}."""
    return _dml_commit(
        spark,
        sink_root,
        predicate,
        lambda df: df.where(f"NOT ({predicate})"),
        commit_ts,
    )


def update_where(
    spark,
    sink_root: str,
    predicate: str,
    set_exprs: dict[str, str],
    commit_ts: float | None = None,
) -> dict:
    """UPDATE sink SET col = expr, ... WHERE predicate, partition-scoped.
    Non-matching rows in touched buckets rewrite byte-identical; keys
    must not be updated (that would re-bucket the row -- use
    delete+merge for key changes)."""
    cur = current_manifest(sink_root)
    if cur is not None and any(k in set_exprs for k in cur["keys"]):
        raise ValueError(
            f"cannot UPDATE bucket key columns {cur['keys']}; "
            "delete + re-merge instead"
        )

    def rewrite(df: DataFrame) -> DataFrame:
        # ONE select, every SET expression evaluated against the OLD row
        # (SQL UPDATE semantics) -- sequential withColumn would let an
        # earlier assignment poison a later RHS or the predicate itself
        cond = F.expr(predicate)
        cols = []
        for c in df.columns:
            if c in set_exprs:
                cols.append(
                    F.when(cond, F.expr(set_exprs[c]))
                    .otherwise(F.col(c))
                    .cast(df.schema[c].dataType)
                    .alias(c)
                )
            else:
                cols.append(F.col(c))
        return df.select(*cols)

    return _dml_commit(spark, sink_root, predicate, rewrite, commit_ts)
