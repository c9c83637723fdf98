"""The workloads: inputs, one round of operations, and their checks.

A workload's ``prepare`` makes its inputs from the seed before Spark
starts; ``begin_round``/``ops``/``end_round`` give one round of operations.
Each operation runs ``construct`` (build the DataFrame: the layer the
query functions and ``ingest_increment`` live in) and ``action`` (run it)
inside the timed region, then ``check`` outside it.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import checks
import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
LISTS = os.path.join(HERE, "lists")


class MissingQuery(LookupError):
    """A listed query is not in the registry: a failed operation."""


class Op:
    """One operation: ``construct`` returns the DataFrame, ``action`` runs
    it, ``check`` verifies the output."""

    name: str

    def construct(self, spark):
        raise NotImplementedError

    def action(self, df) -> None:
        raise NotImplementedError

    def check(self, df) -> int:
        """Verify the output; return its row count."""
        raise NotImplementedError


# --- ingest_cycles -----------------------------------------------------------

INGEST_SF = 0.1
CYCLES = 8
REDELIVER_SHARE = 0.2
PAGE_SIZE = 500
BATCH_SIZE = 1000


class IngestCycles:
    """The reference /fetch loop as a series of cycles against one sink.

    The sf0.1 ``events`` table (ids in time order) is cut into CYCLES
    consecutive slices; slice i also re-delivers a seeded REDELIVER_SHARE
    of slice i-1, so the anti-join has hits and its build side grows from
    nothing to every eligible id. Each cycle reads its slice through the
    ``paginated_api`` source (label query pushed down, one token per core,
    PAGE_SIZE rows per page), runs ``ingest_increment`` against the ids
    already in the sink, and appends through the ``batched_sink`` writer.
    A round starts from an empty sink; after it, an untimed re-delivery of
    an already-ingested slice must commit nothing.
    """

    name = "ingest_cycles"

    def __init__(self, scratch, seed: int, cores: int) -> None:
        self.scratch, self.seed, self.cores = scratch, seed, cores
        self.round = 0

    def prepare(self) -> str:
        events = datagen.events_table(INGEST_SF, self.seed)
        n = events.num_rows
        rng = np.random.default_rng([self.seed, 99])
        bounds = np.linspace(0, n, CYCLES + 1).astype(int)
        self.slices = []
        for i in range(CYCLES):
            idx = np.arange(bounds[i], bounds[i + 1])
            if i > 0:
                prev = np.arange(bounds[i - 1], bounds[i])
                again = rng.choice(prev, int(len(prev) * REDELIVER_SHARE), replace=False)
                idx = np.sort(np.concatenate([again, idx]))
            path = os.path.join(self.scratch.data, f"slice_{i:02d}.parquet")
            pq.write_table(events.take(idx), path)
            self.slices.append(path)
        warm = os.path.join(self.scratch.data, "warmup.parquet")
        pq.write_table(events.slice(0, 64), warm)
        return warm

    def bind(self, spark, con) -> None:
        from gmail_bigquery_etl_spark.operators.incremental import ingest_increment
        from gmail_bigquery_etl_spark.sources import batched_sink, paginated

        self.ingest_increment = ingest_increment
        paginated.register(spark)
        batched_sink.register(spark)
        self.expected = [checks.expected_records(con, p) for p in self.slices]

    def begin_round(self) -> None:
        self.round += 1
        self.sink = os.path.join(self.scratch.work, f"sink_{self.round}")
        os.makedirs(self.sink)
        self.already: set[str] = set()

    def ops(self):
        for i, path in enumerate(self.slices):
            yield _Cycle(self, i, path)

    def end_round(self, spark) -> dict:
        """Untimed: the sink holds every eligible id once, and re-delivering
        an already-ingested slice commits nothing. Returns sink facts."""
        files = sorted(f for f in os.listdir(self.sink) if f.endswith(".jsonl"))
        ids = [r[0] for r in checks.read_committed(self.sink, files)]
        want = set().union(*self.expected)
        checks.check_final_ids(ids, want)
        again = _Cycle(self, CYCLES // 2, self.slices[CYCLES // 2])
        again.action(again.construct(spark))
        m = again.manifest()
        if m.get("rows_written") != 0 or m.get("batches_failed") != 0:
            raise checks.CheckFailed(f"re-delivered slice committed {m}")
        size = sum(
            os.path.getsize(os.path.join(self.sink, f))
            for f in os.listdir(self.sink)
            if os.path.isfile(os.path.join(self.sink, f))
        )
        shutil.rmtree(self.sink)
        return {"sink_bytes": size, "sink_rows": len(ids)}


class _Cycle(Op):
    def __init__(self, wl: IngestCycles, i: int, path: str) -> None:
        self.wl, self.i, self.path = wl, i, path
        self.name = f"cycle_{i:02d}"

    def construct(self, spark):
        msgs = (
            spark.read.format("paginated_api")
            .option("path", self.path)
            .option("q", checks.INGEST_QUERY)
            .option("tokens", str(self.wl.cores))
            .option("page_size", str(PAGE_SIZE))
            .load()
        )
        existing = spark.read.schema("id string").json(self.wl.sink)
        return self.wl.ingest_increment(msgs, existing)

    def action(self, df) -> None:
        (
            df.write.format("batched_sink")
            .option("path", self.wl.sink)
            .option("batch_size", str(BATCH_SIZE))
            .mode("append")
            .save()
        )

    def manifest(self) -> dict:
        with open(os.path.join(self.wl.sink, "_MANIFEST.json")) as f:
            return json.load(f)

    def check(self, df) -> int:
        m = self.manifest()
        committed = checks.read_committed(self.wl.sink, m["files"])
        expected = self.wl.expected[self.i]
        new = {k: v for k, v in expected.items() if k not in self.wl.already}
        checks.check_cycle(committed, m, new, self.wl.already)
        self.wl.already.update(new)
        self.sink_facts = {
            "batched_sink.rows_written": float(m["rows_written"]),
            "batched_sink.files": float(len(m["files"])),
            "batched_sink.bytes_written": float(
                sum(os.path.getsize(os.path.join(self.wl.sink, f)) for f in m["files"])
            ),
            "batched_sink.batches_failed": float(m["batches_failed"]),
        }
        return len(committed)


# --- analytics ---------------------------------------------------------------


def read_list(name: str) -> list[str]:
    with open(os.path.join(LISTS, name)) as f:
        return [ln.split("#")[0].strip() for ln in f if ln.split("#")[0].strip()]


class Analytics:
    """A fixed list of registered queries, each constructed and materialized
    with the noop writer once per round, each result checked against its
    DuckDB oracle."""

    def __init__(self, name: str, sf: float, list_file: str, scratch, seed: int) -> None:
        self.name, self.sf, self.scratch, self.seed = name, sf, scratch, seed
        self.queries = read_list(list_file)
        self.expected: dict[str, tuple] = {}

    def prepare(self) -> str:
        datagen.generate(self.scratch.data, self.sf, self.seed)
        return os.path.join(self.scratch.data, "events.parquet")

    def bind(self, spark, con) -> None:
        from gmail_bigquery_etl_spark.queries import ALL_ORACLES, ALL_QUERIES
        from gmail_bigquery_etl_spark.schemas import FIXTURE_TABLES

        self.registry, self.oracles = ALL_QUERIES, ALL_ORACLES
        self.con = con
        for t in FIXTURE_TABLES:
            path = os.path.join(self.scratch.data, f"{t}.parquet")
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def begin_round(self) -> None:
        pass

    def ops(self):
        for q in self.queries:
            yield _Query(self, q)

    def end_round(self, spark) -> dict:
        return {}

    def oracle(self, name: str) -> tuple:
        if name not in self.expected:
            self.expected[name] = checks.oracle_result(self.con, self.oracles[name])
        return self.expected[name]


class _Query(Op):
    def __init__(self, wl: Analytics, name: str) -> None:
        self.wl, self.name = wl, name

    def construct(self, spark):
        if self.name not in self.wl.registry or self.name not in self.wl.oracles:
            raise MissingQuery(f"{self.name} is not a registered query with an oracle")
        return self.wl.registry[self.name](spark, self.wl.scratch.data)

    def action(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def check(self, df) -> int:
        cols, rows = checks.spark_result(df)
        checks.compare_results(cols, rows, *self.wl.oracle(self.name))
        return len(rows)


def make(name: str, scratch, seed: int, cores: int):
    if name == "ingest_cycles":
        return IngestCycles(scratch, seed, cores)
    if name == "analytics_small":
        return Analytics(name, 0.01, "analytics_small.txt", scratch, seed)
    if name == "analytics_large":
        return Analytics(name, 0.1, "analytics_large.txt", scratch, seed)
    raise ValueError(f"unknown workload {name!r}")
