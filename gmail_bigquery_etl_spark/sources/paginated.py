"""Custom Python DataSource: a paginated, pushdown-capable API source.

The reference's primary scan is a hand-rolled paginated API loop -- Gmail
``messages.list`` pages of <=500 with a label-predicate query string pushed
to the server, per-user fan-out over OAuth tokens, a projection of exactly
four headers per message, and a rate-limit sleep between pages (reference
etl_service/main.py:147-217; predicate :160, page size :168, projection
:184-185, fan-out :299-303, throttle :211). This module re-expresses that
scan as a Spark 4 ``pyspark.sql.datasource.DataSource``:

* one ``InputPartition`` per simulated user token (the reference's
  ``MAX_WORKERS`` thread fan-out becomes real Spark task parallelism; at
  1000 executors each mailbox scan is an independent task),
* a page-at-a-time fetch loop inside ``read()`` with a configurable page
  size and optional inter-page throttle,
* source-side evaluation of a Gmail-style label query string
  (``q="in:inbox OR in:sent -in:spam"``) -- the T1 predicate pushdown,
* ``pushFilters`` support for id/threadId equality and IN filters (the
  catalog-level pushdown Spark drives), unsupported filters handed back
  for post-scan evaluation,
* a ``headers`` option restricting which header structs are built -- the
  reference's ``metadataHeaders`` projection (S2),
* a ``limit`` option capping the rows each partition of a BATCH read
  serves (the page loop stops requesting pages once it is met); stream
  reads ignore it.

The "API" is a deterministic in-process fake backed by the driver's
``events`` parquet (option ``path``): each event renders into exactly the
same Gmail-shaped message the synthetic DataFrame source builds
(sources/synthetic.py messages_from_events_df), so the DuckDB oracle for
the ingest pipeline is one shared spec for both paths. Rows with
``event_id % 7 == 0`` are served twice (pages re-deliver messages, as a
real at-least-once API can) -- downstream per-id dedup handles it.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    IsNotNull,
)
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

MESSAGE_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("threadId", StringType(), True),
        StructField(
            "headers",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType(), True),
                        StructField("value", StringType(), True),
                    ]
                )
            ),
            True,
        ),
        StructField("labelIds", ArrayType(StringType()), True),
    ]
)

_LABELS_BY_TYPE = {
    "error": ["SPAM", "INBOX"],
    "signup": ["INBOX"],
    "purchase": ["SENT", "INBOX"],
    "click": ["TRASH"],
}
_DEFAULT_HEADERS = "Subject,From,To,Date"
_RAW_COLUMNS = ["event_id", "ts", "user_id", "event_type"]
# A message id is "m<event_id>" in canonical decimal form: "m01" or "m²"
# names no message, so it must not reach the event_id scan filter.
_MESSAGE_ID = re.compile(r"m(0|[1-9][0-9]*)")


def parse_label_query(q: str) -> tuple[set[str], set[str]]:
    """Gmail-ish ``q`` string -> (include labels, exclude labels).

    ``"in:inbox OR in:sent -in:spam"`` keeps messages carrying ANY include
    label and NONE of the excludes; an empty include set keeps everything
    (matching how the reference's query is a disjunction of label terms
    with appended negations, main.py:160).
    """
    include, exclude = set(), set()
    for term in q.split():
        if term.startswith("-in:"):
            exclude.add(term[4:].upper())
        elif term.startswith("in:"):
            include.add(term[3:].upper())
    return include, exclude


@dataclass
class _TokenPartition(InputPartition):
    """One token's slice of raw events, read from ``start`` up to ``end``
    (exclusive; ``None`` = to the end) in deterministic event order,
    serving at most ``cap`` rendered rows (``None`` = no cap)."""

    token_idx: int
    num_tokens: int
    start: int = 0
    end: int | None = None
    cap: int | None = None


class PaginatedApiReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        self.include, self.exclude = parse_label_query(options.get("q", ""))
        header_opt = options.get("headers", _DEFAULT_HEADERS)
        self.wanted_headers = [h.strip() for h in header_opt.split(",") if h.strip()]
        self.page_size = int(options.get("page_size", "500"))
        self.num_tokens = int(options.get("tokens", "3"))
        self.throttle_ms = int(options.get("throttle_ms", "0"))
        # Pushed row limit (per partition). The Python DataSource API has no
        # SupportsPushDownLimit hook yet, so the limit arrives as an option;
        # the page loop stops REQUESTING pages once it is satisfied -- the
        # paginated-API analog of Spark's LocalLimit (each partition serves
        # at most `limit` rows; the global limit still trims on the driver).
        limit_opt = options.get("limit")
        self.limit: int | None = int(limit_opt) if limit_opt is not None else None
        self.id_allow: set[str] | None = None  # None = no pushed id filter

    def pushFilters(self, filters: list[Filter]) -> list[Filter]:
        """Accept id equality+IN and id/threadId IsNotNull; everything else
        is returned for Spark to evaluate after the scan. Eager (not a
        generator): the accepted-filter state must exist before Spark
        pickles this reader out to the executors."""
        self.pushed: list[Filter] = []
        unsupported: list[Filter] = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("id",):
                self.id_allow = {f.value}
                self.pushed.append(f)
            elif isinstance(f, In) and f.attribute == ("id",):
                self.id_allow = set(f.value)
                self.pushed.append(f)
            elif isinstance(f, IsNotNull) and f.attribute in (("id",), ("threadId",)):
                self.pushed.append(f)  # never null here: accept, emit all
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self) -> list[_TokenPartition]:
        # A pushed point filter (id = / id IN) bounds the answer to at most
        # |id_allow| messages; the full per-token fan-out would pay
        # num_tokens x (Python worker spin-up + Arrow scanner setup) to
        # serve mostly-empty slices. One partition spanning every token
        # (num_tokens=1 makes the user_id-mod fan-out filter pass all rows)
        # returns the identical row set from a single task. Spark calls
        # pushFilters before partitions, so id_allow is settled here.
        if self.id_allow is not None and len(self.id_allow) <= 10_000:
            # `limit` is documented as PER-PARTITION: the pre-collapse plan
            # could serve up to limit*num_tokens rows, so the single
            # surviving partition carries the scaled cap and the collapse
            # stays a pure plan optimization (same row set, fewer tasks).
            # The cap rides in the partition, not on the reader: Spark
            # pickles the reader for the executors BEFORE it calls
            # partitions(), so a change to the reader here never reaches
            # them.
            cap = None if self.limit is None else self.limit * self.num_tokens
            return [_TokenPartition(0, 1, cap=cap)]
        return [
            _TokenPartition(i, self.num_tokens, cap=self.limit)
            for i in range(self.num_tokens)
        ]

    def read(self, partition: _TokenPartition) -> Iterator:
        """Lazy page loop: yields pyarrow RecordBatches, one per page (the
        Spark 4 Python DataSource arrow fast path -- no per-row tuple
        pickling between the reader and the worker's arrow serializer).

        Laziness is the point -- a consumer that stops (Spark's LocalLimit,
        or the partition's ``cap``) stops the underlying scanner, so
        unneeded pages are never fetched, matching a real paginated API
        where the next pageToken is simply never requested.
        """
        import pyarrow.dataset as ds

        # Fetch/render coarse (vectorization amortizes the per-call pandas
        # cost -- 500-row render units were 5x slower end-to-end), then
        # slice the rendered batch into page_size pages for the API's
        # page/throttle/limit semantics. True fetch laziness is bounded by
        # the parquet row-group size regardless of batch_size, so coarse
        # fetching gives up nothing real.
        scanner = ds.dataset(self.path).scanner(
            columns=_RAW_COLUMNS,
            filter=self._scan_filter(partition.token_idx, partition.num_tokens),
            batch_size=max(self.page_size, 16384),
        )
        start, end, remaining = partition.start, partition.end, partition.cap
        seen = 0  # raw events of this token's slice scanned so far
        first = True
        for batch in scanner.to_batches():
            lo = max(0, start - seen)
            hi = batch.num_rows if end is None else min(batch.num_rows, end - seen)
            seen += batch.num_rows
            if hi > lo:
                # redelivered dupes are rendered with (and ride in) their page
                rendered = self._render(batch.slice(lo, hi - lo).to_pandas())
                for off in range(0, rendered.num_rows, self.page_size):
                    if remaining == 0:
                        return
                    if not first and self.throttle_ms:
                        time.sleep(self.throttle_ms / 1000.0)
                    first = False
                    page = rendered.slice(off, self.page_size)
                    if remaining is not None:
                        page = page.slice(0, remaining)
                        remaining -= page.num_rows
                    yield page
            if remaining == 0 or (end is not None and seen >= end):
                return

    def _labels_pass(self, labels: list[str]) -> bool:
        """Evaluate the parsed label query against one label set."""
        if self.include and not (set(labels) & self.include):
            return False
        if self.exclude and (set(labels) & self.exclude):
            return False
        return True

    def _scan_filter(self, token_idx: int, num_tokens: int):
        """ALL source-side predicates, pushed into the Arrow scan so each
        token partition decodes only its own slice (a full-table read per
        partition was num_tokens-times redundant I/O). It is the one place
        they are enforced; ``_render`` trusts its input:
          * the token fan-out, user_id mod num_tokens (Arrow expressions
            have no %, so spelled via truncating int division -- user ids
            are non-negative),
          * pushed id equality/IN filters (ids are "m<event_id>"),
          * the label query, folded to an event_type membership test
            (labels are a pure function of event_type; unknown types get
            the DRAFT default and pass iff DRAFT passes).
        """
        import pyarrow as pa
        import pyarrow.compute as pc

        f_user = pc.field("user_id")
        expr = (f_user - (f_user / num_tokens).cast("int64") * num_tokens) == token_idx
        if self.id_allow is not None:
            eids = [
                int(m.group(1))
                for i in self.id_allow
                if isinstance(i, str) and (m := _MESSAGE_ID.fullmatch(i))
            ]
            eids = pa.array([e for e in eids if e < 2**63], pa.int64())
            expr = expr & pc.field("event_id").isin(eids)
        known = list(_LABELS_BY_TYPE)
        allowed = [t for t, ls in _LABELS_BY_TYPE.items() if self._labels_pass(ls)]
        default_pass = self._labels_pass(["DRAFT"])
        if len(allowed) < len(known) or not default_pass:
            # typed: an empty untyped value set does not bind to a string
            type_expr = pc.field("event_type").isin(pa.array(allowed, pa.string()))
            if default_pass:
                type_expr = type_expr | ~pc.field("event_type").isin(known)
            expr = expr & type_expr
        return expr

    def _render(self, df):
        """Render one fetched slice of raw events into a Gmail-shaped
        message RecordBatch, fully vectorized: the headers list<struct>
        column is assembled from flat name/value arrays + offsets
        (ListArray), not a per-row Python loop -- the renderer stays
        O(columns), and the batch goes straight onto Spark's arrow
        channel."""
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        # at-least-once redelivery of every 7th message, like the synthetic df
        df = pd.concat([df, df[df["event_id"] % 7 == 0]], ignore_index=True)
        labels_col = df["event_type"].map(
            lambda t: _LABELS_BY_TYPE.get(t, ["DRAFT"])
        )
        eid = df["event_id"]
        ids = "m" + eid.astype(str)
        n = len(df)

        threads = "t" + df["user_id"].astype(str)
        dates = df["ts"].dt.strftime("%a, %d %b %Y %H:%M:%S +0000")
        subj_names = pd.Series("Subject", index=df.index).where(
            eid % 13 != 0, "SUBJECT"
        )
        subj_vals = df["event_type"] + " #" + eid.astype(str)
        froms = "user" + df["user_id"].astype(str) + "@example.com"
        drop_subject = (eid % 11 == 0).to_numpy()

        # headers: per-header (name, value, present) columns in projection
        # order -> row-major boolean-mask flatten -> ListArray offsets
        name_cols, val_cols, mask_cols = [], [], []
        for h in self.wanted_headers:
            if h == "Subject":
                name_cols.append(subj_names.to_numpy(dtype=object))
                val_cols.append(subj_vals.to_numpy(dtype=object))
                mask_cols.append(~drop_subject)
            elif h == "From":
                name_cols.append(np.full(n, "From", dtype=object))
                val_cols.append(froms.to_numpy(dtype=object))
                mask_cols.append(np.ones(n, dtype=bool))
            elif h == "To":
                name_cols.append(np.full(n, "To", dtype=object))
                val_cols.append(np.full(n, "etl@example.com", dtype=object))
                mask_cols.append(np.ones(n, dtype=bool))
            elif h == "Date":
                name_cols.append(np.full(n, "Date", dtype=object))
                val_cols.append(dates.to_numpy(dtype=object))
                mask_cols.append(np.ones(n, dtype=bool))
        if name_cols:
            names_mat = np.stack(name_cols, axis=1)  # n x k, row-major
            vals_mat = np.stack(val_cols, axis=1)
            mask = np.stack(mask_cols, axis=1)
            flat = pa.StructArray.from_arrays(
                [
                    pa.array(names_mat[mask], type=pa.string()),
                    pa.array(vals_mat[mask], type=pa.string()),
                ],
                names=["name", "value"],
            )
            offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(mask.sum(axis=1), out=offsets[1:])
            headers_arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), flat)
        else:
            headers_arr = pa.array([[]] * n, type=pa.list_(
                pa.struct([("name", pa.string()), ("value", pa.string())])
            ))
        return pa.RecordBatch.from_arrays(
            [
                pa.array(ids.to_numpy(dtype=object), type=pa.string()),
                pa.array(threads.to_numpy(dtype=object), type=pa.string()),
                headers_arr,
                pa.array(labels_col.to_list(), type=pa.list_(pa.string())),
            ],
            names=["id", "threadId", "headers", "labelIds"],
        )


class PaginatedApiStreamReader(DataSourceStreamReader):
    """Streaming form of the paginated scan: the reference's ``while True``
    page loop (etl_service/main.py:163-211) as a partition-planned
    Structured Streaming source.

    The offset ``{"pos": p}`` is the pageToken analog: every token has
    consumed the first ``min(p, len(slice))`` raw events of ITS slice, in
    deterministic event order. Planning (driver) only touches metadata --
    per-token slice lengths via a single-column count with the scan filter
    pushed down; the rows themselves are read EXECUTOR-side, one
    ``[start, end)`` window partition per token, through the batch
    reader's lazy page loop (matching its parallelism, unlike the old
    SimpleDataSourceStreamReader form that materialized the whole universe
    on the driver). Stream partitions carry no ``cap``: ``limit`` applies
    to batch reads only. Replay of a committed (start, end] range re-plans
    the same deterministic partitions, so recovery re-serves ranges
    bit-for-bit; ``latestOffset`` reports the full snapshot length and
    never moves backwards across restarts.
    """

    def __init__(self, options: dict) -> None:
        self._reader = PaginatedApiReader(options)
        self.num_tokens = self._reader.num_tokens
        self._max_len: int | None = None

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        """Longest per-token raw slice (driver-side metadata count only)."""
        if self._max_len is None:
            import pyarrow.dataset as ds

            data = ds.dataset(self._reader.path)
            self._max_len = max(
                data.count_rows(filter=self._reader._scan_filter(i, self.num_tokens))
                for i in range(self.num_tokens)
            )
        return {"pos": self._max_len}

    def partitions(self, start: dict, end: dict) -> list[_TokenPartition]:
        lo, hi = start["pos"], end["pos"]
        if hi <= lo:
            return []
        return [
            _TokenPartition(i, self.num_tokens, lo, hi)
            for i in range(self.num_tokens)
        ]

    def read(self, partition: _TokenPartition) -> Iterator:
        return self._reader.read(partition)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up; the backing store is immutable


class PaginatedApiDataSource(DataSource):
    """``spark.read.format("paginated_api").option("path", ...)`` source;
    also streamable via ``spark.readStream.format("paginated_api")``."""

    @classmethod
    def name(cls) -> str:
        return "paginated_api"

    def schema(self) -> StructType:
        return MESSAGE_SCHEMA

    def reader(self, schema: StructType) -> PaginatedApiReader:
        return PaginatedApiReader(self.options)

    def streamReader(self, schema: StructType) -> PaginatedApiStreamReader:
        return PaginatedApiStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the datasource with a session. Python-source
    filter pushdown is off by default; it is a runtime-settable SQL conf,
    so flip it here rather than requiring a specially-built session."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PaginatedApiDataSource)
