"""Draw the ``analytics_small`` query list from a seed.

    python3 perfbench/draw_small.py --seed 2026 --n 17 > perfbench/lists/analytics_small.txt

Stratified over the query modules in ``gmail_bigquery_etl_spark/queries``:
the ``n`` slots go to modules in proportion to their number of eligible
queries (largest remainder, so a small module can get none). Only queries with a DuckDB
oracle are eligible, none of the execution-bound candidates
(LARGE_CANDIDATES, which ``analytics_large`` draws on), and none whose
oracle alone outlasts a run (SLOW_TO_CHECK). Within a
module the draw is a seeded sample of its sorted query names. The list is
drawn once and committed, so later changes to the registry do not change
the mix; a listed query that later leaves the registry counts as a failed
operation.
"""

from __future__ import annotations

import argparse
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402

sys.path.insert(1, env.REPO_ROOT)


# The execution-bound candidates at sf0.1; analytics_large runs some of them.
LARGE_CANDIDATES = {
    "orders_item_cf_recs", "text_sparse_cosine_topk", "dedup_simhash_pairs",
    "dedup_jaccard_prefix_filter", "curation_contamination_check",
    "curation_line_dedup", "ann_ivf_sq8_topk", "ann_rrf_fusion",
    "ann_recall_scoreboard", "orders_market_basket", "multimodal_dhash_near_dup",
    "graph_adamic_adar", "text_bm25_topk", "events_bootstrap_ci",
    "profile_orders_columns", "q9_product_profit",
}

# Queries whose check alone would not fit in a run: checking graph_bfs_hops
# (re-running it and its recursive-CTE oracle) took ~150 s at sf0.01 on 4
# cores.
SLOW_TO_CHECK = {"graph_bfs_hops"}


def draw(seed: int, n: int) -> list[str]:
    from gmail_bigquery_etl_spark.queries import ALL_ORACLES, ALL_QUERIES

    by_module: dict[str, list[str]] = {}
    for name, fn in ALL_QUERIES.items():
        if name in ALL_ORACLES and name not in LARGE_CANDIDATES | SLOW_TO_CHECK:
            by_module.setdefault(fn.__module__.rsplit(".", 1)[-1], []).append(name)
    modules = sorted(by_module)
    total = sum(len(v) for v in by_module.values())
    quota = {m: n * len(by_module[m]) / total for m in modules}
    alloc = {m: int(q) for m, q in quota.items()}
    for m in sorted(modules, key=lambda m: alloc[m] - quota[m])[: n - sum(alloc.values())]:
        alloc[m] += 1
    rng = random.Random(seed)
    picked = []
    for m in modules:
        names = sorted(by_module[m])
        picked += rng.sample(names, min(alloc[m], len(names)))
    return picked


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=2026)
    ap.add_argument("--n", type=int, default=17)
    args = ap.parse_args()
    names = draw(args.seed, args.n)
    print(f"# drawn by: python3 perfbench/draw_small.py --seed {args.seed} --n {args.n}")
    print("\n".join(names))


if __name__ == "__main__":
    main()
