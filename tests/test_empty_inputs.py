"""Cold-start robustness: EVERY declared query must run (producing >= 0
rows, never raising) against a fixture where all tables exist with their
real schemas and ZERO rows -- the state of a freshly-provisioned
deployment before the first ingest. This sweep found and now guards ten
real bugs: ZeroDivisionError in PageRank's unit split, analysis failures
from UNTYPED empty literal arrays in the kmeans/IVF/PQ argmin trees, and
schema-inference failures reading empty partitioned sinks."""

from __future__ import annotations

from gmail_bigquery_etl_spark.queries import ALL_QUERIES


def test_every_query_survives_empty_corpus(empty_corpus):
    failures = []
    for name in ALL_QUERIES:
        try:
            df = empty_corpus(name)
            if isinstance(df, Exception):
                raise df
            n = df.count()
            assert n >= 0
        except Exception as ex:  # noqa: BLE001 - collecting a report
            failures.append((name, type(ex).__name__, str(ex).splitlines()[0][:120]))
    assert not failures, failures
