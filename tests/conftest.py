"""Shared fixtures: one SparkSession per test session, one DuckDB connection
with the fixture parquet tables registered as views (mirrors the driver's
CORRECTNESS harness, TESTDATA.md)."""

from __future__ import annotations

import functools
import os
import sys

import duckdb
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from gmail_bigquery_etl_spark.queries import ALL_QUERIES  # noqa: E402
from gmail_bigquery_etl_spark.schemas import FIXTURE_TABLES  # noqa: E402
from gmail_bigquery_etl_spark.session import get_spark  # noqa: E402

# The driver's correctness gate runs at sf0.01; override for quick local runs.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    # Follows SPARK_GRAFT_CPUS, capped at local[8] so a large host does not
    # grow the suite's task count.
    cpus = int(
        os.environ.get("SPARK_GRAFT_TEST_CPUS")
        or min(8, int(os.environ.get("SPARK_GRAFT_CPUS") or "8"))
    )
    return get_spark("tests", cpus=cpus, shuffle_partitions=cpus)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in FIXTURE_TABLES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.fixture(scope="session")
def empty_sf(spark, tmp_path_factory) -> str:
    """Every fixture table with its real schema and zero rows -- the state
    of a freshly-provisioned deployment before the first ingest."""
    d = str(tmp_path_factory.mktemp("empty_sf"))
    for t in FIXTURE_TABLES:
        (
            spark.read.parquet(f"{SF_DIR}/{t}.parquet")
            .limit(0)
            .write.mode("overwrite")
            .parquet(f"{d}/{t}.parquet")
        )
    return d


@pytest.fixture(scope="session")
def empty_corpus(spark, empty_sf):
    """``empty_corpus(name)``: the registered query built on ``empty_sf``
    on first call, or the exception its construction raised. Building the
    whole corpus costs minutes, so the survival sweep (which executes the
    frames) and the output-type lint (which reads their schemas) share
    one build."""

    @functools.cache
    def frame(name: str):
        try:
            return ALL_QUERIES[name](spark, empty_sf)
        except Exception as ex:  # noqa: BLE001 - the sweeps report it
            return ex

    return frame
