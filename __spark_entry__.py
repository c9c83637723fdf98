"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in gmail_bigquery_etl_spark/ (queries/ holds the
declared corpus; each query registers its DuckDB oracle alongside).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gmail_bigquery_etl_spark.queries import ALL_ORACLES, ALL_QUERIES

_REPO = os.path.dirname(os.path.abspath(__file__))


def driver_order() -> list[str]:
    """Registered query names in rotation order. The driver samples the
    first ~50, so the queries with the stalest driver evidence lead:
    those with no row in any CORRECTNESS_r*.json first, then the rest by
    the newest round holding their row, oldest first; registration order
    breaks ties."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name in json.load(fh):
                newest[name] = max(newest.get(name, 0), rnd)
    return sorted(ALL_QUERIES, key=lambda n: newest.get(n, 0))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference-parity
    incremental ingest (label predicate -> broadcast anti-join vs sink ->
    header-extraction HOFs -> per-id dedup), SURVEY.md §3.1."""
    return ALL_QUERIES["ingest_incremental"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator/query from SURVEY.md §2."""
    return {n: ALL_QUERIES[n] for n in driver_order()}


def oracle_sql() -> dict[str, str]:
    """Equivalent ANSI SQL for DuckDB, keyed like ``queries()``. Queries
    without an entry here are non-SQL-expressible (streaming/stateful) and
    get the driver's weaker rows-only check."""
    return {n: ALL_ORACLES[n] for n in driver_order() if n in ALL_ORACLES}
