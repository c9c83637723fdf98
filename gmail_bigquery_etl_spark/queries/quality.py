"""Write-path data contracts as gated queries: the expectations operator
(operators/expectations.py) audited and exercised on the orders fixture.

Reference parity: the reference's only quality signal is the per-batch
error list BigQuery returns AFTER a bad row is already rejected
(etl_service/main.py:244-250). These queries are the proactive converse:
contracts declared before the write, violations quantified in one scan,
violating rows routed to a queryable quarantine instead of a log line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.expectations import (
    Expectation,
    expectation_metrics,
    split_quarantine,
)
from .registry import query


def orders_contracts() -> list[Expectation]:
    """The demo contract set for the orders table. Mix chosen so the
    audit exercises every action and both outcomes: a warn that always
    passes, a fail that always passes (the job-abort path is
    pytest-gated), and two drops with real violation populations in the
    fixture (prices above the cap; orders fresher than the cutoff)."""
    return [
        Expectation("positive_price", F.col("o_totalprice") > 0, "warn"),
        Expectation(
            "known_status",
            F.col("o_orderstatus").isin("O", "F", "P"),
            "fail",
        ),
        Expectation(
            "price_under_cap", F.col("o_totalprice") <= 450000.0, "drop"
        ),
        Expectation(
            "order_date_fresh",
            F.col("o_orderdate") < F.lit("2001-06-01").cast("timestamp"),
            "drop",
        ),
    ]


@query(
    "expectations_orders_audit",
    oracle="""
WITH t AS (
  SELECT COUNT(*) AS n_rows,
    SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS v_pos,
    SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS v_status,
    SUM(CASE WHEN o_totalprice <= 450000.0 THEN 0 ELSE 1 END) AS v_cap,
    SUM(CASE WHEN o_orderdate < TIMESTAMP '2001-06-01' THEN 0 ELSE 1 END)
      AS v_fresh
  FROM orders
)
SELECT 'positive_price' AS expectation, 'warn' AS action,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(v_pos AS BIGINT) AS n_violations,
       v_pos / CAST(n_rows AS DOUBLE) AS violation_rate FROM t
UNION ALL
SELECT 'known_status', 'fail', CAST(n_rows AS BIGINT),
       CAST(v_status AS BIGINT), v_status / CAST(n_rows AS DOUBLE) FROM t
UNION ALL
SELECT 'price_under_cap', 'drop', CAST(n_rows AS BIGINT),
       CAST(v_cap AS BIGINT), v_cap / CAST(n_rows AS DOUBLE) FROM t
UNION ALL
SELECT 'order_date_fresh', 'drop', CAST(n_rows AS BIGINT),
       CAST(v_fresh AS BIGINT), v_fresh / CAST(n_rows AS DOUBLE) FROM t
""",
)
def expectations_orders_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-expectation audit of the orders contract set in ONE scan:
    every constraint is a conditional sum inside a single global
    aggregate (operators/expectations.expectation_metrics), stacked to
    one row per expectation via inline of a literal struct array -- a
    20-constraint audit still costs exactly one pass at 100 TB. The
    oracle recomputes each count independently and stacks with UNION
    ALL."""
    orders = load_table(spark, sf_dir, "orders")
    return expectation_metrics(orders, orders_contracts())


@query(
    "expectations_quarantine_rows",
    oracle="""
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       concat_ws(',',
         CASE WHEN o_orderdate < TIMESTAMP '2001-06-01' THEN NULL
              ELSE 'order_date_fresh' END,
         CASE WHEN o_totalprice <= 450000.0 THEN NULL
              ELSE 'price_under_cap' END) AS violations
FROM orders
WHERE NOT (CASE WHEN o_totalprice <= 450000.0 THEN TRUE ELSE FALSE END)
   OR NOT (CASE WHEN o_orderdate < TIMESTAMP '2001-06-01'
                THEN TRUE ELSE FALSE END)
""",
)
def expectations_quarantine_rows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The quarantine side of the contract split: every row that breaks
    a drop/fail contract, tagged with the SORTED list of every contract
    it broke (triage wants the full list -- a row over the price cap AND
    past the freshness cutoff names both). Split and tag are filters +
    projections over one tagged plan (no shuffle, no rescan); the oracle
    rebuilds the tag with alphabetically-ordered concat_ws (NULLs
    skipped), matching array_sort + array_join exactly."""
    orders = load_table(spark, sf_dir, "orders")
    _, quarantined = split_quarantine(orders, orders_contracts())
    return quarantined.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.array_join("_violations", ",").alias("violations"),
    )


@query(
    "stream_expectations_metrics",
    oracle="""
WITH t AS (
  SELECT CAST(o_orderkey % 3 AS BIGINT) AS batch_id, COUNT(*) AS n_rows,
    SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS v_pos,
    SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
      AS v_status,
    SUM(CASE WHEN o_totalprice <= 450000.0 THEN 0 ELSE 1 END) AS v_cap,
    SUM(CASE WHEN o_orderdate < TIMESTAMP '2001-06-01' THEN 0 ELSE 1 END)
      AS v_fresh
  FROM orders GROUP BY 1
)
SELECT batch_id, 'positive_price' AS expectation, 'warn' AS action,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(v_pos AS BIGINT) AS n_violations FROM t
UNION ALL
SELECT batch_id, 'known_status', 'fail', CAST(n_rows AS BIGINT),
       CAST(v_status AS BIGINT) FROM t
UNION ALL
SELECT batch_id, 'price_under_cap', 'drop', CAST(n_rows AS BIGINT),
       CAST(v_cap AS BIGINT) FROM t
UNION ALL
SELECT batch_id, 'order_date_fresh', 'drop', CAST(n_rows AS BIGINT),
       CAST(v_fresh AS BIGINT) FROM t
""",
)
def stream_expectations_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contract-enforced STREAMING sink's quality time series, gated
    against per-batch recomputation: orders arrive as three micro-
    batches through the real foreachBatch body
    (operators/expectations.expectations_writer -- clean/quarantine/
    metrics land under batch_id= partitions), and the metrics table read
    back from the sink must equal the per-batch relational audit. Proves
    the write path's metrics are the same single-scan audit the batch
    operator computes, per batch, with partition discovery recovering
    the batch id."""
    import os

    from ..fixtures import fresh_dir
    from ..operators.expectations import expectations_writer

    orders = load_table(spark, sf_dir, "orders")
    root = fresh_dir("expect", sf_dir)
    writer = expectations_writer(root, orders_contracts())
    for b in range(3):
        writer(orders.where(F.col("o_orderkey") % 3 == b), b)
    m = spark.read.parquet(os.path.join(root, "metrics"))
    return m.select(
        F.col("batch_id").cast("bigint").alias("batch_id"),
        "expectation",
        "action",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_violations").cast("bigint").alias("n_violations"),
    )
