"""Custom paginated-API Python DataSource (sources/paginated.py).

Covers the reference scan semantics it re-expresses: label-predicate
pushdown via the q option (main.py:160), id-filter pushdown via
pushFilters, per-token partitioning (main.py:299-303), page batching, and
header projection (main.py:184-185) -- plus equivalence with the
DataFrame-synthetic message source on the same fixture.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In

from gmail_bigquery_etl_spark.sources.paginated import (
    PaginatedApiReader,
    PaginatedApiStreamReader,
    parse_label_query,
    register,
)
from gmail_bigquery_etl_spark.sources.synthetic import gmail_messages_from_events

SMOKE_SF = "/root/testdata/sf0.001"
EVENTS = os.path.join(SMOKE_SF, "events.parquet")


def _read(spark, **opts):
    register(spark)
    r = spark.read.format("paginated_api").option("path", EVENTS)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_matches_synthetic_dataframe_source(spark):
    """The DataSource serves exactly the message universe the synthetic
    DataFrame transform builds (same ids, same headers, same labels)."""
    via_ds = _read(spark, tokens=4)
    via_df = gmail_messages_from_events(spark, SMOKE_SF)
    cols = ["id", "threadId", "headers", "labelIds"]
    a = sorted(map(str, via_ds.select(cols).collect()))
    b = sorted(map(str, via_df.select(cols).collect()))
    assert a == b


def test_label_query_pushdown(spark):
    """q option filters source-side: -in:spam removes 'error' messages,
    include terms keep only matching label sets."""
    df = _read(spark, q="in:inbox OR in:sent OR in:trash -in:spam")
    labels = df.select(F.explode("labelIds").alias("l")).distinct()
    got = {r.l for r in labels.collect()}
    assert "SPAM" not in got and "DRAFT" not in got
    assert {"INBOX", "SENT", "TRASH"} <= got


def test_parse_label_query():
    inc, exc = parse_label_query("in:inbox OR in:sent -in:spam -in:allmail")
    assert inc == {"INBOX", "SENT"} and exc == {"SPAM", "ALLMAIL"}
    assert parse_label_query("") == (set(), set())


def _rows(reader, partition):
    """Flatten a reader's RecordBatch pages into plain python row tuples."""
    for batch in reader.read(partition):
        yield from zip(*(c.to_pylist() for c in batch.columns))


def test_id_filter_pushdown_unit():
    """pushFilters accepts id EqualTo/In, hands back everything else."""
    r = PaginatedApiReader({"path": EVENTS})
    rest = list(
        r.pushFilters(
            [
                In(attribute=("id",), value=("m1", "m2")),
                GreaterThan(("threadId",), "t0"),
            ]
        )
    )
    assert r.id_allow == {"m1", "m2"}
    assert len(rest) == 1 and isinstance(rest[0], GreaterThan)
    got = {row[0] for p in r.partitions() for row in _rows(r, p)}
    assert got == {"m1", "m2"}


def test_point_filter_collapses_partition_planning():
    """A pushed id filter bounds the answer, so the reader plans ONE
    partition spanning every token instead of the per-token fan-out
    (saves num_tokens x worker spin-up for a point lookup) -- and that
    single partition still serves rows from ANY user slice."""
    r = PaginatedApiReader({"path": EVENTS, "tokens": "4"})
    assert len(r.partitions()) == 4  # no pushed filter: full fan-out
    r.pushFilters([In(attribute=("id",), value=("m1", "m2", "m5"))])
    parts = r.partitions()
    assert len(parts) == 1
    got = {row[0] for row in _rows(r, parts[0])}
    assert got == {"m1", "m2", "m5"}


def test_point_filter_collapse_scales_per_partition_limit():
    """The 1-partition collapse must not shrink the pushed limit's total
    cap: pre-collapse, .option("limit", N) allowed N rows per token
    partition (N*tokens overall), so the surviving partition's cap is
    scaled by num_tokens -- an id IN list of more than N ids still comes
    back complete."""
    r = PaginatedApiReader({"path": EVENTS, "tokens": "3", "limit": "1"})
    r.pushFilters([In(attribute=("id",), value=("m1", "m2", "m5"))])
    parts = r.partitions()
    assert len(parts) == 1
    got = {row[0] for row in _rows(r, parts[0])}
    assert got == {"m1", "m2", "m5"}


def test_point_filter_collapse_keeps_limit_end_to_end(spark):
    """The collapse's scaled cap must reach the executors. Spark pickles
    the reader for them before it calls partitions(), so a cap scaled on
    the reader there would never arrive (one id of three would come
    back); it has to travel in the partition."""
    df = _read(spark, tokens=3, limit=1).filter(F.col("id").isin("m1", "m2", "m5"))
    assert sorted(r.id for r in df.collect()) == ["m1", "m2", "m5"]


def test_non_canonical_ids_match_nothing_unit():
    """The scan filter is the only place the pushed id filter is enforced,
    so an id that merely parses to an event id ("m01", "m²") must not
    select that event's message ("m1")."""
    r = PaginatedApiReader({"path": EVENTS})
    r.pushFilters([In(attribute=("id",), value=("m01", "m\u00b2", "x1", "m1"))])
    got = {row[0] for p in r.partitions() for row in _rows(r, p)}
    assert got == {"m1"}


def test_label_query_matching_no_known_type_unit():
    """A query no known event type satisfies ("in:draft") keeps only the
    DRAFT-labelled messages of unknown types (an empty allowed-type set
    still binds to the string column)."""
    r = PaginatedApiReader({"path": EVENTS, "q": "in:draft"})
    labels = [row[3] for p in r.partitions() for row in _rows(r, p)]
    assert labels and all(ls == ["DRAFT"] for ls in labels)


def test_id_filter_pushdown_end_to_end(spark):
    df = _read(spark, tokens=2).filter(F.col("id") == "m5")
    rows = df.collect()
    assert [r.id for r in rows] == ["m5"]


def test_header_projection_option(spark):
    """headers option = the reference's metadataHeaders projection: only
    requested headers get built."""
    df = _read(spark, headers="From,Date")
    names = df.select(
        F.explode(F.expr("transform(headers, h -> h.name)")).alias("n")
    ).distinct()
    assert {r.n for r in names.collect()} == {"From", "Date"}


def test_partitions_cover_all_users(spark):
    """Token partitioning is a disjoint cover: row counts match at any
    token width, and each partition only serves its user slice."""
    n2 = _read(spark, tokens=2).count()
    n8 = _read(spark, tokens=8).count()
    assert n2 == n8 > 0


def test_streaming_source_delivers_everything_once(spark, tmp_path):
    """readStream over the paginated source: every message arrives exactly
    once, one page per micro-batch, and the offsets replay deterministically
    (the reference's page loop under Structured Streaming)."""
    register(spark)
    total = _read(spark, tokens=1).count()
    stream = (
        spark.readStream.format("paginated_api")
        .option("path", EVENTS)
        .option("page_size", "500")
        .load()
    )
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time as _t

    deadline = _t.time() + 120
    while _t.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= total:
                break
        except Exception:
            pass
        _t.sleep(1)
    q.stop()
    got = spark.read.parquet(out)
    assert got.count() == total
    batch = _read(spark, tokens=1)
    assert sorted(r.id for r in got.select("id").collect()) == sorted(
        r.id for r in batch.select("id").collect()
    )


def test_limit_stops_paging_unit():
    """A pushed limit stops the page loop: <=ceil(n/page_size) pages are
    fetched and exactly n rows served per partition (SURVEY §4's limit-
    pushdown rule; the Python DataSource API has no pushLimit hook, so the
    limit arrives as an option)."""
    import math

    page_size, limit = 50, 120
    r = PaginatedApiReader(
        {"path": EVENTS, "page_size": str(page_size), "limit": str(limit), "tokens": "1"}
    )
    (part,) = r.partitions()
    pages = list(r.read(part))
    assert len(pages) <= math.ceil(limit / page_size)
    assert sum(p.num_rows for p in pages) == limit
    # unlimited reader serves strictly more (through its own, uncapped
    # partition: the cap travels in the partition, not on the reader)
    full = PaginatedApiReader({"path": EVENTS, "tokens": "1"})
    (full_part,) = full.partitions()
    assert sum(b.num_rows for b in full.read(full_part)) > limit


def test_limit_option_end_to_end(spark):
    """limit option through the Spark read path: per-partition cap, so at
    most limit*tokens rows come back, and a .limit(n) on top behaves."""
    df = _read(spark, tokens=2, limit=10)
    assert df.count() <= 20
    assert len(df.limit(5).collect()) == 5


def test_lazy_pages_fetch_nothing_beyond_consumption():
    """The page generator is genuinely lazy: consuming one page fetches one
    batch, not the whole mailbox (a real API's pageToken is never asked
    for)."""
    r = PaginatedApiReader({"path": EVENTS, "page_size": "10", "tokens": "1"})
    (part,) = r.partitions()
    gen = r.read(part)
    first = next(gen)
    assert 0 < first.num_rows <= 12  # one batch (+ redelivered dupes)
    gen.close()  # no error: scanner abandoned without draining


def test_stream_windows_cover_batch_read_unit():
    """Offset windows are a disjoint cover: splitting [0, latestOffset) at
    its midpoint serves, across both windows, exactly the batch reader's
    rows (a micro-batch boundary loses and repeats nothing)."""
    opts = {"path": EVENTS, "tokens": "2", "page_size": "7"}
    stream = PaginatedApiStreamReader(opts)
    start, end = stream.initialOffset(), stream.latestOffset()
    mid = {"pos": end["pos"] // 2}
    assert 0 < mid["pos"] < end["pos"]
    windowed = sorted(
        str(row)
        for lo, hi in ((start, mid), (mid, end))
        for p in stream.partitions(lo, hi)
        for row in _rows(stream, p)
    )
    batch = PaginatedApiReader(opts)
    assert windowed == sorted(str(x) for p in batch.partitions() for x in _rows(batch, p))


def test_stream_restart_from_checkpoint_adds_nothing(spark, tmp_path):
    """Recovery contract of the partition-planned stream reader: after a
    completed run, restarting from the same checkpoint serves no new rows
    (latestOffset is stable and never backwards), and output stays
    exactly-once."""
    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("paginated_api")
            .option("path", EVENTS)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    total = _read(spark).count()
    first = spark.read.parquet(out).count()
    assert first == total
    run_once()  # restart: same checkpoint, no new data
    again = spark.read.parquet(out)
    assert again.count() == total
    assert again.select("id").distinct().count() == _read(spark).select(
        "id"
    ).distinct().count()


def test_page_size_batching_unit():
    """Small pages produce identical output (pagination is invisible)."""
    big = PaginatedApiReader({"path": EVENTS, "page_size": "100000"})
    small = PaginatedApiReader({"path": EVENTS, "page_size": "7"})
    rows_big = sorted(
        str(x) for p in big.partitions() for x in _rows(big, p)
    )
    rows_small = sorted(
        str(x) for p in small.partitions() for x in _rows(small, p)
    )
    assert rows_big == rows_small
