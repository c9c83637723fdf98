"""Output-type lint: no registered query may emit DecimalType or DateType
columns. Both types have burned this project with fetch-path coercion at
the driver's correctness gate -- a DATE cell upcast to datetime by a
pandas fetch (fixed in layout_compaction_plan by emitting ISO strings),
and Decimal cells canonicalized with differing trailing scale between the
Spark and DuckDB fetch paths (warehouse_time_travel_diff /
warehouse_snapshot_history, the only two driver hash-red rows in rounds
1-6). Internals may (and do) use decimal arithmetic and date logic; the
OUTPUT schema must render them as strings, bigints, or doubles whose
cross-engine canonicalization is proven stable by 187 driver-green rows.

Schemas are read from the zero-row corpus frames the empty-input sweep
(tests/test_empty_inputs.py) also runs (the session's ``empty_corpus``
fixture), so each query is constructed once for both checks; the lint
itself costs no execution.
"""

from __future__ import annotations

from pyspark.sql import types as T

from gmail_bigquery_etl_spark.queries import ALL_QUERIES

# Queries whose output legitimately needs a banned type must be listed
# here WITH a reason -- the lint fails on any unexplained occurrence.
ALLOWED: dict[str, str] = {}

BANNED = (T.DecimalType, T.DateType)


def _banned_in(dt: T.DataType) -> bool:
    if isinstance(dt, BANNED):
        return True
    if isinstance(dt, T.ArrayType):
        return _banned_in(dt.elementType)
    if isinstance(dt, T.MapType):
        return _banned_in(dt.keyType) or _banned_in(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_banned_in(f.dataType) for f in dt.fields)
    return False


def test_lint_detects_banned_types(spark):
    """Non-vacuity: the detector fires on exactly the shapes that broke
    rounds 6a/6b -- a top-level decimal aggregate and a DATE column --
    including nested occurrences a field-level scan would miss."""
    df = spark.sql(
        "SELECT CAST(1.5 AS DECIMAL(28,4)) bal, DATE '2024-01-01' d, "
        "array(CAST(1 AS DECIMAL(10,2))) arr, 'ok' s, "
        "CAST(1.5 AS DOUBLE) dbl"
    )
    flagged = [f.name for f in df.schema.fields if _banned_in(f.dataType)]
    assert flagged == ["bal", "d", "arr"]


def test_no_decimal_or_date_output_columns(empty_corpus):
    offenders = []
    for name in sorted(ALL_QUERIES):
        df = empty_corpus(name)
        if name in ALLOWED or isinstance(df, Exception):
            continue  # the empty-corpus sweep reports construction errors
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if _banned_in(f.dataType)
        ]
        if bad:
            offenders.append((name, bad))
    assert not offenders, (
        "registered queries emit fetch-coercion-prone output types "
        f"(cast to string/double at the boundary): {offenders}"
    )
