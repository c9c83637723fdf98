"""Seeded generator for the fixture tables the query corpus reads.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one single-row-group parquet file each, with the
schemas and value domains of the corpus fixtures (FIXTURES.md): uniform
keys and measures over the same ranges, the same enumerations, a
30-word document vocabulary with 5 % "near-copy + ' dup'" documents, and
64-dimensional unit embeddings. The same ``(sf, seed)`` always writes the
same bytes of data, so every run of the benchmark on one seed sees the same
inputs and the program under test receives only these files.

Row counts follow the fixture scale rule: ``events`` has 1e6 x sf rows,
``lineitem`` 6e6 x sf, ``documents`` max(500, 5e4 x sf) and ``embeddings``
max(500, 2e4 x sf).
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EMBED_DIM = 64

def _ts(start: str, end: str, n: int, rng: np.random.Generator, unit: str):
    """n uniform timestamps in [start, end), truncated to whole ``unit``."""
    lo = np.datetime64(datetime.fromisoformat(start), "us")
    hi = np.datetime64(datetime.fromisoformat(end), "us")
    step = np.timedelta64(1, unit).astype("timedelta64[us]")
    span = int((hi - lo) / step)
    return lo + rng.integers(0, span, n) * step


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _table(columns: dict) -> pa.Table:
    return pa.table(
        {k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in columns.items()}
    )


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table,
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=max(1, table.num_rows),
    )


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    vocab = np.array(VOCAB)
    dup_of = rng.random(n) < 0.05
    for i in range(n):
        if dup_of[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return _table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    vec = rng.standard_normal((n, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vec.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return _table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def events_table(sf: float, seed: int) -> pa.Table:
    """The ``events`` stream: ids in time order, one per row."""
    rng = np.random.default_rng([seed, 7])
    n = int(1_000_000 * sf)
    ts = np.sort(_ts("2024-01-01", "2024-01-31", n, rng, "us"))
    n_users = max(150, int(15_000 * sf))
    return _table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def generate(out_dir: str, sf: float, seed: int, tables=None) -> None:
    """Write every fixture table (or only ``tables``) for ``(sf, seed)``."""
    os.makedirs(out_dir, exist_ok=True)
    want = set(tables) if tables else None

    def rng_for(k: int) -> np.random.Generator:
        return np.random.default_rng([seed, k])

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    builders = {
        "region": lambda r: _table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": lambda r: _table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": lambda r: _table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(r, -1000, 10000, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
            }
        ),
        "supplier": lambda r: _table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(r, -1000, 10000, n_supp),
            }
        ),
        "part": lambda r: _table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
                "p_size": r.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": lambda r: _table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
                "o_totalprice": _money(r, 1000, 500000, n_ord),
                "o_orderdate": pa.array(
                    _ts("1995-01-01", "2001-08-02", n_ord, r, "D"),
                    type=pa.timestamp("us"),
                ),
                "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": lambda r: _table(
            {
                "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(r, 900, 105000, n_li),
                "l_discount": r.integers(0, 11, n_li) / 100.0,
                "l_tax": r.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
                "l_shipdate": pa.array(
                    _ts("1995-01-02", "2001-11-05", n_li, r, "D"),
                    type=pa.timestamp("us"),
                ),
            }
        ),
        "events": lambda r: events_table(sf, seed),
        "documents": lambda r: _documents(max(500, int(50_000 * sf)), r),
        "embeddings": lambda r: _embeddings(max(500, int(20_000 * sf)), r),
    }
    for k, (name, build) in enumerate(builders.items()):
        if want is None or name in want:
            _write(out_dir, name, build(rng_for(k)))


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    generate(a.out_dir, a.sf, a.seed)
