"""Checks of the program's outputs against computations made apart from it.

Nothing here calls the program under test: the expected ingest records
come from DuckDB over the generated slices, and each analytics query's
expected result from its DuckDB oracle SQL. The comparators are plain
functions over Python values, so ``selftest.py`` can show that each one
rejects a perturbed output. Every check raises ``CheckFailed``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
from typing import Any

import numpy as np
import pandas as pd

# The Gmail message projection of one events slice (the record build of the
# reference /fetch), restricted to what the label query
# "in:inbox OR in:sent OR in:trash -in:spam" keeps: signup -> INBOX,
# purchase -> SENT,INBOX, click -> TRASH; error carries SPAM and view the
# DRAFT default, so both are dropped.
INGEST_QUERY = "in:inbox OR in:sent OR in:trash -in:spam"
RECORD_FIELDS = (
    "id",
    "threadId",
    "subject",
    "sender",
    "recipient",
    "timestamp",
    "combined_labels",
)
_RECORDS_SQL = """
SELECT 'm' || CAST(event_id AS VARCHAR) AS id,
       't' || CAST(user_id AS VARCHAR) AS threadId,
       CASE WHEN event_id % 11 = 0 THEN NULL
            ELSE event_type || ' #' || CAST(event_id AS VARCHAR) END AS subject,
       'user' || CAST(user_id AS VARCHAR) || '@example.com' AS sender,
       'etl@example.com' AS recipient,
       strftime(CAST(ts AS TIMESTAMP), '%a, %d %b %Y %H:%M:%S +0000') AS "timestamp",
       CASE event_type WHEN 'signup' THEN 'INBOX'
                       WHEN 'purchase' THEN 'SENT,INBOX'
                       ELSE 'TRASH' END AS combined_labels
FROM read_parquet('{path}')
WHERE event_type IN ('signup', 'purchase', 'click')
"""


class CheckFailed(AssertionError):
    pass


def _fail(msg: str) -> None:
    raise CheckFailed(msg)


# --- ingest_cycles -------------------------------------------------------------


def expected_records(con, slice_path: str) -> dict[str, tuple]:
    """id -> record tuple (RECORD_FIELDS order) for one slice, by DuckDB."""
    rows = con.execute(_RECORDS_SQL.format(path=slice_path)).fetchall()
    return {r[0]: tuple(r) for r in rows}


def read_committed(sink_dir: str, files) -> list[tuple]:
    """The records in the given committed sink files, in RECORD_FIELDS order."""
    out = []
    for name in files:
        with open(os.path.join(sink_dir, name)) as f:
            for line in f:
                rec = json.loads(line)
                out.append(tuple(rec.get(k) for k in RECORD_FIELDS))
    return out


def check_cycle(
    committed: list[tuple],
    manifest: dict,
    expected_new: dict[str, tuple],
    already: set[str],
) -> None:
    """One cycle committed exactly the expected new records, once each."""
    if manifest.get("batches_failed") != 0:
        _fail(f"batches_failed = {manifest.get('batches_failed')}")
    if manifest.get("rows_written") != len(committed):
        _fail(
            f"manifest rows_written {manifest.get('rows_written')} != "
            f"{len(committed)} rows in its files"
        )
    ids = [r[0] for r in committed]
    if len(set(ids)) != len(ids):
        _fail(f"{len(ids) - len(set(ids))} duplicate ids committed in one cycle")
    again = already.intersection(ids)
    if again:
        _fail(f"{len(again)} ids committed again, e.g. {sorted(again)[:3]}")
    if len(committed) != len(expected_new):
        _fail(f"committed {len(committed)} new rows, expected {len(expected_new)}")
    for rec in committed:
        want = expected_new.get(rec[0])
        if want is None:
            _fail(f"unexpected id {rec[0]} committed")
        if rec != want:
            _fail(f"record {rec[0]} differs: {rec} != {want}")


def check_final_ids(all_committed_ids: list[str], expected_ids: set[str]) -> None:
    """After a round the sink holds every eligible id exactly once."""
    if len(set(all_committed_ids)) != len(all_committed_ids):
        _fail("duplicate id in the sink")
    got = set(all_committed_ids)
    if got != expected_ids:
        _fail(
            f"sink ids differ: {len(got - expected_ids)} extra, "
            f"{len(expected_ids - got)} missing"
        )


# --- analytics -----------------------------------------------------------------

FLOAT_SORT_DECIMALS = 4
FLOAT_REL_TOL = 1e-6
FLOAT_ABS_TOL = 1e-6


def _canon(v: Any) -> Any:
    """A value as a comparable, hashable tree: ('f', x) for floats,
    ('s', str) for everything scalar, tuples for containers."""
    if v is None or v is pd.NaT or v is pd.NA:
        return ("n",)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        x = float(v)
        return ("n",) if math.isnan(x) else ("f", x)
    if isinstance(v, (bool, np.bool_)):
        return ("s", f"b:{bool(v)}")
    if isinstance(v, (int, np.integer)):
        return ("f", float(v)) if abs(int(v)) < 2**53 else ("s", f"i:{int(v)}")
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return ("s", "t:" + v.isoformat())
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ("s", "t:" + v.isoformat())
    if isinstance(v, dt.date):
        return ("s", "d:" + v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("s", "x:" + bytes(v).hex())
    if isinstance(v, dict):
        return ("d",) + tuple((str(k), _canon(x)) for k, x in sorted(v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l",) + tuple(_canon(x) for x in v)
    return ("s", "s:" + str(v))


def _sort_key(c: Any) -> Any:
    if c[0] == "f":
        return ("f", round(c[1], FLOAT_SORT_DECIMALS))
    if c[0] == "l":
        return ("l",) + tuple(_sort_key(x) for x in c[1:])
    if c[0] == "d":
        return ("d",) + tuple((k, _sort_key(x)) for k, x in c[1:])
    return c


def _close(a: Any, b: Any) -> bool:
    if a[0] != b[0] or len(a) != len(b):
        return False
    if a[0] == "f":
        return math.isclose(a[1], b[1], rel_tol=FLOAT_REL_TOL, abs_tol=FLOAT_ABS_TOL)
    if a[0] == "d":
        return all(ka == kb and _close(x, y) for (ka, x), (kb, y) in zip(a[1:], b[1:]))
    if a[0] == "l":
        return all(_close(x, y) for x, y in zip(a[1:], b[1:]))
    return a == b


def canon_table(columns, rows) -> list[tuple]:
    """Rows with columns ordered by name, values canonicalized, rows sorted
    (order-insensitive, floats sorted at FLOAT_SORT_DECIMALS)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda row: tuple(_sort_key(c) for c in row))
    return out


def compare_results(got_cols, got_rows, want_cols, want_rows) -> None:
    """Order-insensitive equality with a float tolerance."""
    if sorted(got_cols) != sorted(want_cols):
        _fail(f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}")
    a = canon_table(list(got_cols), got_rows)
    b = canon_table(list(want_cols), want_rows)
    if len(a) != len(b):
        _fail(f"{len(a)} rows != oracle {len(b)}")
    for i, (ra, rb) in enumerate(zip(a, b)):
        if not all(_close(x, y) for x, y in zip(ra, rb)):
            _fail(f"row {i} differs: {ra} != oracle {rb}")


def oracle_result(con, sql: str):
    pdf = con.execute(sql).df()
    return list(pdf.columns), list(pdf.itertuples(index=False, name=None))


def spark_result(df):
    pdf = df.toPandas()
    return list(pdf.columns), list(pdf.itertuples(index=False, name=None))
