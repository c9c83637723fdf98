"""Batched append sink writer (sources/batched_sink.py): batch slicing,
per-batch error isolation, manifest accounting -- reference K1 semantics
(etl_service/main.py:231-254) on the DataSourceWriter API."""

from __future__ import annotations

import json
import os

from gmail_bigquery_etl_spark.operators.incremental import extract_email_records
from gmail_bigquery_etl_spark.sources.batched_sink import register
from gmail_bigquery_etl_spark.sources.synthetic import gmail_messages_from_events

SMOKE_SF = "/root/testdata/sf0.001"


def _records(spark):
    return extract_email_records(
        gmail_messages_from_events(spark, SMOKE_SF)
    ).dropDuplicates(["id"])


def _write(spark, df, path, **opts):
    register(spark)
    w = df.write.format("batched_sink").option("path", path)
    for k, v in opts.items():
        w = w.option(k, str(v))
    w.mode("append").save()


def _manifest(path):
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        return json.load(f)


def _read_back(spark, path):
    return spark.read.json(os.path.join(path, "part-*.jsonl"))


def test_all_rows_land_in_batches(spark, tmp_path):
    df = _records(spark)
    total = df.count()
    out = str(tmp_path / "sink")
    _write(spark, df, out, batch_size=100)
    m = _manifest(out)
    assert m["rows_written"] == total and m["batches_failed"] == 0
    back = _read_back(spark, out)
    assert back.count() == total
    assert sorted(r.id for r in back.select("id").collect()) == sorted(
        r.id for r in df.select("id").collect()
    )


def test_batch_size_respected(spark, tmp_path):
    df = _records(spark).limit(250).coalesce(1)
    out = str(tmp_path / "sink")
    _write(spark, df, out, batch_size=100)
    m = _manifest(out)
    assert len(m["files"]) == 3  # 100 + 100 + 50


def test_error_isolation_continues_past_failed_batch(spark, tmp_path):
    """A failing batch is recorded and skipped; the job completes and every
    OTHER batch lands -- the reference's error-continue (main.py:244-250)."""
    df = _records(spark).limit(300).coalesce(1)
    out = str(tmp_path / "sink")
    _write(spark, df, out, batch_size=100, fail_every_nth_batch=2)
    m = _manifest(out)
    assert m["batches_failed"] == 1  # batch index 1 (2nd) injected to fail
    assert m["rows_written"] == 200
    assert _read_back(spark, out).count() == 200


def test_fail_fast_aborts(spark, tmp_path):
    import pytest

    df = _records(spark).limit(300).coalesce(1)
    out = str(tmp_path / "sink")
    with pytest.raises(Exception):
        _write(
            spark, df, out,
            batch_size=100, fail_every_nth_batch=2, fail_fast=True,
        )


def test_losing_attempt_files_never_published(spark, tmp_path):
    """Retried/speculative attempts stage under _staging/<attempt>/ and only
    commit() publishes the winning attempt set: a losing attempt's chunks
    must not be visible to a *.jsonl glob, and staging is swept."""
    from gmail_bigquery_etl_spark.sources.batched_sink import BatchedSinkWriter

    out = str(tmp_path / "sink")
    w = BatchedSinkWriter({"path": out, "batch_size": "2"})
    rows = _records(spark).limit(6).collect()
    loser = w.write(iter(rows))   # first attempt "fails" post-write
    winner = w.write(iter(rows))  # retry wins
    # pre-commit: nothing published yet
    assert not [f for f in os.listdir(out) if f.endswith(".jsonl")]
    w.commit([winner])
    published = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert published == set(winner.files)
    assert not (set(loser.files) & published)
    assert not os.path.exists(os.path.join(out, "_staging"))
    assert _manifest(out)["files"] == sorted(winner.files)
    assert _read_back(spark, out).count() == 6


def test_abort_sweeps_staging(spark, tmp_path):
    from gmail_bigquery_etl_spark.sources.batched_sink import BatchedSinkWriter

    out = str(tmp_path / "sink")
    w = BatchedSinkWriter({"path": out, "batch_size": "2"})
    msg = w.write(iter(_records(spark).limit(4).collect()))
    w.abort([msg])
    assert not os.path.exists(os.path.join(out, "_staging"))
    assert not [f for f in os.listdir(out) if f.endswith(".jsonl")]


def test_manifest_describes_latest_commit_only(spark, tmp_path):
    """``_MANIFEST.json`` is rewritten by every append and describes that
    commit alone; the committed data is every ``*.jsonl`` in the sink."""
    df = _records(spark)
    first, second = df.limit(150).coalesce(1), df.limit(40).coalesce(1)
    out = str(tmp_path / "sink")
    _write(spark, first, out, batch_size=100)
    files_1 = set(_manifest(out)["files"])
    _write(spark, second, out, batch_size=100)
    m = _manifest(out)
    assert len(files_1) == 2 and len(m["files"]) == 1
    assert m["rows_written"] == 40 and not set(m["files"]) & files_1
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert on_disk == files_1 | set(m["files"])
    assert _read_back(spark, out).count() == 190
