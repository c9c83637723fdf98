"""Deterministic Gmail-shaped fixtures derived from the driver's ``events``
table.

The reference consumes Gmail API message payloads (id, threadId, a headers
array of {name,value} structs, a labelIds array -- etl_service/main.py:
193-204). The driver fixtures have no such table, so we derive one, purely
declaratively, from ``events`` -- same rows at every scale factor for a given
sf_dir, and reproducible in ANSI SQL for the DuckDB oracle.

Mapping (all codegen'd expressions):
  id           = 'm' || event_id
  threadId     = 't' || user_id
  headers      = [Subject: '<event_type> #<event_id>',
                  From:    'user<user_id>@example.com',
                  To:      'etl@example.com',
                  Date:    RFC-2822 rendering of ts]
                 -- every 11th message drops its Subject header and every
                 13th message upper-cases header names, exercising the
                 first-match / case-insensitive / NULL-default semantics.
  labelIds     = event_type-dependent mix of INBOX/SENT/TRASH/SPAM/DRAFT.
  duplicates   = messages with event_id % 7 == 0 appear twice (union),
                 exercising per-id dedup (reference main.py:205).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..fixtures import cached_dir


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def gmail_messages_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return messages_from_events_df(_load_events(spark, sf_dir))


def messages_from_events_df(ev: DataFrame) -> DataFrame:
    """The events->messages mapping as a pure DataFrame transform, usable on
    batch AND streaming inputs (the streaming ingest tests replay ``events``
    as a file stream and pipe it through this same function)."""
    subject_hdr = F.struct(
        F.when(F.col("event_id") % 13 == 0, F.lit("SUBJECT"))
        .otherwise(F.lit("Subject"))
        .alias("name"),
        F.concat(F.col("event_type"), F.lit(" #"), F.col("event_id").cast("string")).alias(
            "value"
        ),
    )
    from_hdr = F.struct(
        F.lit("From").alias("name"),
        F.concat(F.lit("user"), F.col("user_id").cast("string"), F.lit("@example.com")).alias(
            "value"
        ),
    )
    to_hdr = F.struct(F.lit("To").alias("name"), F.lit("etl@example.com").alias("value"))
    date_hdr = F.struct(
        F.lit("Date").alias("name"),
        F.date_format(F.col("ts"), "EEE, dd MMM yyyy HH:mm:ss Z").alias("value"),
    )
    headers = F.when(
        F.col("event_id") % 11 == 0, F.array(from_hdr, to_hdr, date_hdr)
    ).otherwise(F.array(subject_hdr, from_hdr, to_hdr, date_hdr))

    labels = (
        F.when(F.col("event_type") == "error", F.array(F.lit("SPAM"), F.lit("INBOX")))
        .when(F.col("event_type") == "signup", F.array(F.lit("INBOX")))
        .when(F.col("event_type") == "purchase", F.array(F.lit("SENT"), F.lit("INBOX")))
        .when(F.col("event_type") == "click", F.array(F.lit("TRASH")))
        .otherwise(F.array(F.lit("DRAFT")))
    )

    msgs = ev.select(
        F.concat(F.lit("m"), F.col("event_id").cast("string")).alias("id"),
        F.concat(F.lit("t"), F.col("user_id").cast("string")).alias("threadId"),
        headers.alias("headers"),
        labels.alias("labelIds"),
        F.col("event_id"),
    )
    dupes = msgs.filter(F.col("event_id") % 7 == 0)
    return msgs.unionAll(dupes).drop("event_id")


def existing_sink_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simulated already-ingested sink ids (every 3rd message), the build
    side of the incremental anti-join (reference main.py:94-104)."""
    ev = _load_events(spark, sf_dir)
    return ev.filter(F.col("event_id") % 3 == 0).select(
        F.concat(F.lit("m"), F.col("event_id").cast("string")).alias("id")
    )


def partitioned_sink_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the simulated sink as an ingest-date-PARTITIONED parquet
    table (id, ingest_date=date(ts), one directory per day) -- the layout
    a production sink needs for the partition-pruned incremental id scan
    (SURVEY.md §7.3 item 5). Content is deterministic per sf_dir, so the
    write happens once per process and is reused (fixtures.cached_dir,
    keyed by the full sf_dir path)."""

    def _build(path: str) -> None:
        ev = _load_events(spark, sf_dir)
        (
            ev.filter(F.col("event_id") % 3 == 0)
            .select(
                F.concat(F.lit("m"), F.col("event_id").cast("string")).alias("id"),
                F.to_date("ts").alias("ingest_date"),
            )
            .repartition("ingest_date")
            .write.partitionBy("ingest_date")
            .mode("overwrite")
            .parquet(path)
        )

    return cached_dir("pruned_sink", sf_dir, _build)
