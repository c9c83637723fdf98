"""Rotation-debt lint (VERDICT r8 item #2).

The driver's correctness gate samples the FIRST ~50 queries of
``__spark_entry__.queries()``, whose order is computed by
``__spark_entry__.driver_order`` (never driver-sampled first, then the
oldest driver evidence). This test pins the invariant that order exists
for: every registered query either sits inside the current front-50 (so
the next driver run covers it) or already has a row in some
CORRECTNESS_r*.json.
"""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER_SAMPLE = 50


def _driver_green_union() -> set[str]:
    keys: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            keys.update(json.load(fh).keys())
    return keys


def test_no_rotation_debt():
    import __spark_entry__

    names = list(__spark_entry__.queries())
    front = set(names[:DRIVER_SAMPLE])
    union = _driver_green_union()
    debt = [n for n in names if n not in front and n not in union]
    assert not debt, (
        f"{len(debt)} registered queries have no driver CORRECTNESS row and "
        f"fall outside the front-{DRIVER_SAMPLE} of __spark_entry__.queries() "
        f"-- more never-sampled queries than one driver run covers: {debt}"
    )


def test_front_has_no_duplicates():
    import __spark_entry__

    names = list(__spark_entry__.queries())
    assert len(names) == len(set(names))
    assert list(__spark_entry__.oracle_sql()) == [
        n for n in names if n in __spark_entry__.oracle_sql()
    ]


def test_duplicate_payments_positive_control(spark):
    """VERDICT r8 item #3: the duplicate-payments gate must be
    falsifiable. Every md5-selected planted order must reappear as
    exactly one is_planted pair (source, source+1e9), so the answer is
    non-empty with KNOWN membership."""
    from pyspark.sql import functions as F

    from gmail_bigquery_etl_spark.catalog import load_table
    from gmail_bigquery_etl_spark.queries import ALL_QUERIES

    sf = "/root/testdata/sf0.001"
    out = ALL_QUERIES["orders_duplicate_payments"](spark, sf)
    planted = out.where(F.col("is_planted") == 1)
    orders = load_table(spark, sf, "orders")
    expected = orders.where(
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 64
        == 0
    ).count()
    got = {(r.k_a, r.k_b) for r in planted.collect()}
    want = {
        (r.o_orderkey, r.o_orderkey + 1000000000)
        for r in orders.where(
            F.conv(
                F.substring(
                    F.md5(F.col("o_orderkey").cast("string")), 1, 15
                ),
                16,
                10,
            ).cast("bigint")
            % 64
            == 0
        ).collect()
    }
    assert expected > 0
    assert want <= got  # every planted source reappears as a pair
