"""Custom Python DataSource WRITER: batched append sink with per-batch
error isolation.

The reference's sink slices rows into BATCH_SIZE chunks, inserts chunk by
chunk, logs failed chunks and keeps going, and sleeps between chunks
(etl_service/main.py:231-254: batching :240-241, insert :243,
error-continue :244-250, throttle :252-253). This writer re-expresses that
contract on Spark's DataSourceWriter API:

* each task slices ITS partition into ``batch_size`` chunks (the unit of
  commit against the remote sink -- here, one JSON-lines file per chunk),
* a chunk that fails is recorded in the commit message and SKIPPED, never
  aborting the task (the reference's error-continue), unless
  ``fail_fast=true``,
* optional ``throttle_ms`` between chunks (the reference's rate limit),
* ``commit()`` on the driver aggregates per-task messages into a
  _SUCCESS-style manifest of THAT commit, so partial failures are
  observable data, not silent loss.

The committed data is the set of ``*.jsonl`` files in the sink directory;
every append adds its files there. ``_MANIFEST.json`` describes only the
latest commit (its files, rows written and batches failed) and is
rewritten by each append.

At cluster scale each task streams its chunks independently -- the
reference's single-threaded 1000-rows-per-second ceiling becomes
tasks x batch throughput.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage
from pyspark.sql.types import Row, StructType


@dataclass
class _BatchCommit(WriterCommitMessage):
    attempt: str
    files: tuple
    rows_written: int
    batches_failed: int


class BatchedSinkWriter(DataSourceWriter):
    """Task attempts stage their chunk files under ``_staging/<attempt>/``
    and only ``commit()`` publishes them into the sink directory. A retried
    or speculative attempt's files therefore never become visible: its
    commit message is simply not in the winning set, and its staging dir is
    swept by commit()/abort(). Readers globbing ``*.jsonl`` see exactly the
    committed files (``_staging`` is underscore-hidden from Spark/Hive
    readers anyway). ``_MANIFEST.json`` describes the latest commit only,
    not the directory's contents."""

    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        self.batch_size = int(options.get("batch_size", "1000"))
        self.throttle_ms = int(options.get("throttle_ms", "0"))
        self.fail_fast = options.get("fail_fast", "false").lower() == "true"
        # test hook: fail every Nth batch to exercise error isolation
        self.fail_every = int(options.get("fail_every_nth_batch", "0"))

    def write(self, rows: Iterator[Row]) -> _BatchCommit:
        attempt = uuid.uuid4().hex
        stage_dir = os.path.join(self.path, "_staging", attempt)
        os.makedirs(stage_dir, exist_ok=True)
        files: list[str] = []
        written = 0
        failed = 0
        batch: list[dict] = []
        batch_no = 0

        def flush(b: list[dict], n: int) -> None:
            nonlocal written, failed
            if not b:
                return
            try:
                if self.fail_every and (n + 1) % self.fail_every == 0:
                    raise IOError(f"injected failure for batch {n}")
                name = f"part-{attempt}-{n:05d}.jsonl"
                tmp = os.path.join(stage_dir, f".{name}.tmp")
                with open(tmp, "w") as f:
                    for r in b:
                        f.write(json.dumps(r, default=str) + "\n")
                # finalize the chunk within the attempt's staging dir (the
                # per-chunk "insert" unit of the reference sink)
                os.rename(tmp, os.path.join(stage_dir, name))
                files.append(name)
                written += len(b)
            except Exception:
                if self.fail_fast:
                    raise
                failed += 1  # error-continue: record, skip, keep going
            if self.throttle_ms:
                time.sleep(self.throttle_ms / 1000.0)

        for row in rows:
            batch.append(row.asDict(recursive=True))
            if len(batch) >= self.batch_size:
                flush(batch, batch_no)
                batch, batch_no = [], batch_no + 1
        flush(batch, batch_no)
        return _BatchCommit(attempt, tuple(files), written, failed)

    def commit(self, messages: list[_BatchCommit]) -> None:
        # publish ONLY the winning attempts' files, then sweep staging
        # (losing attempts from retries/speculation vanish here)
        for m in messages:
            stage_dir = os.path.join(self.path, "_staging", m.attempt)
            for name in m.files:
                os.rename(
                    os.path.join(stage_dir, name), os.path.join(self.path, name)
                )
        manifest = {
            "rows_written": sum(m.rows_written for m in messages),
            "batches_failed": sum(m.batches_failed for m in messages),
            "files": sorted(f for m in messages for f in m.files),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f)
        self._sweep_staging()

    def abort(self, messages: list[_BatchCommit]) -> None:
        self._sweep_staging()  # nothing was published; drop all attempts

    def _sweep_staging(self) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


class BatchedSinkDataSource(DataSource):
    """``df.write.format("batched_sink").option("path", ...).save()``."""

    @classmethod
    def name(cls) -> str:
        return "batched_sink"

    def schema(self) -> StructType:  # writer-only source
        return StructType([])

    def writer(self, schema: StructType, overwrite: bool) -> BatchedSinkWriter:
        return BatchedSinkWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(BatchedSinkDataSource)
