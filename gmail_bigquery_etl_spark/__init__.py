"""PySpark-native analytics/ETL engine with the query and data-processing
capabilities of ``lanafrenzel/gmail-bigquery-etl``, re-expressed
Spark-first.

Layout:
  session     -- SparkSession factory tuned for local testing + cluster scale
  schemas     -- the one email schema (reference etl_service/main.py:196-204)
                 plus fixture-table schemas
  catalog     -- fixture-table loader / temp-view registration
  fixtures    -- the per-process root every query fixture directory lives in
  functions/  -- column-level helpers (header extraction HOFs, text, vectors)
  operators/  -- incremental ingest, dedup family, similarity search, asof
  sources/    -- Gmail-shaped paginated Python DataSource with pushdown, and
                 the batched idempotent append sink
  plans/      -- bucketed tables and physical-plan inspection
  streaming/  -- Structured Streaming: windowed aggregations, foreachBatch
                 ingest, and the snapshot-pointer sinks (snapshots.py)
  queries/    -- declared query corpus with DuckDB-oracle SQL strings;
                 queries/pipeline.py holds the training-pipeline queries
  _zipimport_cache -- keeps Python workers (< 3.13) from re-reading
                 pyspark.zip on every call; installed on import
"""

from gmail_bigquery_etl_spark import _zipimport_cache

_zipimport_cache.install()

__version__ = "0.1.0"
