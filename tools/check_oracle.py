"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every declared query through Spark AND its oracle SQL through DuckDB
at a given scale factor, then compares row count, column names, and an
order-insensitive value hash. Iterating against this locally is how query/
oracle pairs get to exact-match before the driver ever sees them.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import traceback

import duckdb

# The package must import in the driver AND in Spark's Python workers
# (applyInPandasWithState, UDFs), whatever the working directory: workers
# inherit PYTHONPATH from the JVM, which inherits it from this process.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
)

from gmail_bigquery_etl_spark.schemas import FIXTURE_TABLES  # noqa: E402


def canon(v):
    """Canonicalize a cell for hashing (mirrors an order-insensitive,
    repr-based compare)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return h, len(lines)


def time_oracles(sf_dir: str) -> None:
    """DuckDB-side corpus timing: run every declared oracle SQL on the same
    parquet files bench.py times Spark against, warm best-of-2 per query
    (bench.py's policy), and print ONE JSON line with the corpus total.
    BASELINE.md pairs this with the same-round bench.py Spark total so the
    Spark-vs-oracle ratio is measured in one session, not estimated across
    rounds."""
    import json
    import time

    from gmail_bigquery_etl_spark.queries import ALL_ORACLES

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    per = {}
    for name, sql in sorted(ALL_ORACLES.items()):
        best = None
        for _ in range(2):
            t0 = time.time()
            con.execute(sql).fetchall()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        per[name] = round(best, 3)
    print(
        json.dumps(
            {
                "metric": "duckdb oracle corpus wall time (best-of-2 warm)",
                "value": round(sum(per.values()), 3),
                "unit": "sec",
                "n_queries": len(per),
                "sf_dir": sf_dir,
                "slowest": dict(
                    sorted(per.items(), key=lambda kv: -kv[1])[:8]
                ),
            }
        )
    )


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--time"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    if "--time" in sys.argv:
        time_oracles(sf_dir)
        return
    only = set(argv[1:])

    from gmail_bigquery_etl_spark.queries import ALL_ORACLES, ALL_QUERIES
    from gmail_bigquery_etl_spark.session import get_spark

    spark = get_spark(cpus=16)

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in sorted(ALL_QUERIES.items()):
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            s_hash, s_n = table_hash(s_cols, s_rows)
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in ALL_ORACLES:
            print(f"skip  {name}: no oracle (rows-only) -> {s_n} rows")
            continue
        try:
            res = con.execute(ALL_ORACLES[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            d_hash, d_n = table_hash(d_cols, d_rows)
        except Exception:
            print(f"FAIL  {name}: DUCKDB ERROR")
            traceback.print_exc()
            failures.append(name)
            continue
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL  {name}: columns {sorted(s_cols)} vs {sorted(d_cols)}")
            failures.append(name)
        elif s_n != d_n:
            print(f"FAIL  {name}: rows {s_n} vs {d_n}")
            failures.append(name)
        elif s_hash != d_hash:
            print(f"FAIL  {name}: value hash mismatch ({s_n} rows)")
            _diff(s_cols, s_rows, d_cols, d_rows)
            failures.append(name)
        else:
            print(f"ok    {name}: {s_n} rows")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all declared queries match")


def _diff(s_cols, s_rows, d_cols, d_rows, limit: int = 3) -> None:
    order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
    s_set = sorted("\x01".join(canon(r[i]) for i in order_s) for r in s_rows)
    d_set = sorted("\x01".join(canon(r[i]) for i in order_d) for r in d_rows)
    d_lookup, s_lookup = set(d_set), set(s_set)
    s_only = [x for x in s_set if x not in d_lookup][:limit]
    d_only = [x for x in d_set if x not in s_lookup][:limit]
    cols = [s_cols[i] for i in order_s]
    print(f"      cols: {cols}")
    for x in s_only:
        print(f"      spark-only: {x.split(chr(1))}")
    for x in d_only:
        print(f"      duck-only:  {x.split(chr(1))}")


if __name__ == "__main__":
    main()
