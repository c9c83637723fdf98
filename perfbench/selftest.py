"""Self-tests of the benchmark's own checkers.

Each checker must accept a correct output and reject a perturbed one: a row
dropped from the sink, an id duplicated, a record field changed, a failed
batch, and one value changed (or one row dropped) in a query result.
``run.py`` runs these before every run; ``python3 perfbench/selftest.py``
runs them alone.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import CheckFailed, check_cycle, check_final_ids, compare_results  # noqa: E402


def _rec(i: int) -> tuple:
    return (f"m{i}", f"t{i % 3}", f"signup #{i}", f"user{i % 3}@example.com",
            "etl@example.com", "Mon, 01 Jan 2024 00:00:00 +0000", "INBOX")


def _rejects(fn, *args) -> bool:
    try:
        fn(*args)
    except CheckFailed:
        return True
    return False


def run_all() -> None:
    failures = []

    def expect(ok: bool, what: str) -> None:
        if not ok:
            failures.append(what)

    # ingest: one cycle
    expected = {f"m{i}": _rec(i) for i in range(10)}
    committed = [_rec(i) for i in range(10)]
    good = {"rows_written": 10, "batches_failed": 0}
    check_cycle(committed, good, expected, set())
    expect(_rejects(check_cycle, committed[:-1], {**good, "rows_written": 9}, expected, set()),
           "cycle accepts a dropped row")
    expect(_rejects(check_cycle, committed + [committed[3]], {**good, "rows_written": 11},
                    expected, set()), "cycle accepts a duplicated id")
    changed = list(committed)
    changed[4] = changed[4][:2] + ("signup #999",) + changed[4][3:]
    expect(_rejects(check_cycle, changed, good, expected, set()), "cycle accepts a changed field")
    expect(_rejects(check_cycle, committed, {**good, "batches_failed": 1}, expected, set()),
           "cycle accepts a failed batch")
    expect(_rejects(check_cycle, committed, good, expected, {"m2"}),
           "cycle accepts an id committed in an earlier cycle")

    # ingest: the sink after a round
    ids = [f"m{i}" for i in range(10)]
    check_final_ids(ids, set(ids))
    expect(_rejects(check_final_ids, ids[1:], set(ids)), "sink accepts a dropped row")
    expect(_rejects(check_final_ids, ids + ["m5"], set(ids)), "sink accepts a duplicated id")

    # analytics: order-insensitive comparison with a float tolerance
    cols = ["k", "v", "tags"]
    rows = [(i, i * 0.1, [f"t{i}"]) for i in range(5)]
    compare_results(cols, list(reversed(rows)), ["tags", "k", "v"],
                    [(r[2], r[0], r[1] + 1e-12) for r in rows])
    bumped = list(rows)
    bumped[2] = (2, 0.2001, ["t2"])
    expect(_rejects(compare_results, cols, bumped, cols, rows), "query accepts a changed value")
    expect(_rejects(compare_results, cols, rows[:-1], cols, rows), "query accepts a dropped row")
    expect(_rejects(compare_results, cols, rows, ["k", "v", "other"], rows),
           "query accepts a renamed column")

    if failures:
        raise CheckFailed("checker self-test failed: " + "; ".join(failures))


if __name__ == "__main__":
    run_all()
    print("checker self-tests passed")
