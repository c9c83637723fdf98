"""Layered benchmark: incremental ingest cycles and two query mixes.

    python3 perfbench/run.py --workload ingest_cycles --seed 1 --seconds 20 --trace 0

One closed-loop client in one process drives ``local[nproc]`` Spark.
Inputs are generated from ``--seed`` into a private scratch directory that
is deleted at exit. The run sets up the session three times (the median is
``setup_s``), then repeats whole rounds of the workload's operations until
the next round would pass ``--seconds``. Every operation's output is
checked outside the timed region against a computation made apart from
the program. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the Spark event log is on and the metrics are the per-layer ones (see
tracing.py); earlier stdout lines then carry one JSON record per operation
and the span list.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402
import selftest  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

sys.path.insert(1, env.REPO_ROOT)

SETUPS = 3
WORKLOADS = ("ingest_cycles", "analytics_small", "analytics_large")
E2E_UNITS = {
    "setup_s": "s",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
    "rows_per_s": "rows/s",
}


def warm_up(spark, events_path: str) -> None:
    """A generic warm-up: one shuffle, one mapInPandas, one one-row
    ``paginated_api`` read."""
    from pyspark.sql import functions as F

    from gmail_bigquery_etl_spark.sources import paginated

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    noop(spark.range(0, 20000, numPartitions=4).groupBy((F.col("id") % 97).alias("k")).count())
    noop(spark.range(0, 1000).mapInPandas(lambda it: it, "id long"))
    paginated.register(spark)
    rows = (
        spark.read.format("paginated_api")
        .option("path", events_path)
        .option("tokens", "1")
        .option("limit", "1")
        .load()
        .limit(1)
        .collect()
    )
    if len(rows) != 1:
        raise RuntimeError(f"warm-up read returned {len(rows)} rows")


def set_up(warm_path: str):
    """``session.get_spark`` plus the warm-up, SETUPS times (the session is
    stopped between them); returns the last session and every time."""
    from gmail_bigquery_etl_spark.session import get_spark

    spark, times = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        warm_up(spark, warm_path)
        times.append(time.perf_counter() - t0)
    return spark, times


class Runner:
    def __init__(self, args, scratch) -> None:
        self.args, self.scratch = args, scratch
        self.cores = env.cpu_count()
        self.wl = workloads.make(args.workload, scratch, args.seed, self.cores)
        self.tracer = tracing.Tracer(enabled=bool(args.trace))
        self.records: list[dict] = []
        self.round_facts: list[dict] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spark = None

    def run(self) -> dict:
        import duckdb

        tr = self.tracer
        with tr.span("run"):
            warm = self.wl.prepare()
            self.spark, self.setups = set_up(warm)
            print(f"# set-up times {self.setups}", file=sys.stderr)
            tr.sc = self.spark.sparkContext
            self.app_id = tr.sc.applicationId
            con = duckdb.connect()
            con.execute("SET TimeZone='UTC'")
            self.wl.bind(self.spark, con)
            if tr.enabled:
                tr.install_catalog_probe()
            with tr.span(self.wl.name):
                self._rounds()
            con.close()
        return self._result()

    def _rounds(self) -> None:
        start = time.perf_counter()
        steal0, total0 = env.steal_jiffies()
        rounds = 0
        while True:
            r0 = time.perf_counter()
            self.wl.begin_round()
            for op in self.wl.ops():
                self._op(op)
            try:
                self.round_facts.append(self.wl.end_round(self.spark))
            except Exception as exc:  # a failed round check: record, go on
                self._error(f"end of round: {exc!r}")
            now = time.perf_counter()
            rounds += 1
            steal, total = env.steal_jiffies()
            print(
                f"# round {rounds} took {now - r0:.3f} s; CPU steal so far "
                f"{100 * (steal - steal0) / max(1, total - total0):.1f} %",
                file=sys.stderr,
            )
            if now - start + (now - r0) > self.args.seconds:
                return

    def _op(self, op) -> None:
        tr = self.tracer
        self.attempted += 1
        rec = {"op": op.name}
        with tr.span(op.name) as op_span:
            try:
                with tracing.OpProbe(tr) as probe:
                    t0 = time.perf_counter()
                    with tr.span("construct") as c:
                        df = op.construct(self.spark)
                    t1 = time.perf_counter()
                    if tr.enabled:
                        with tr.span("plan") as p:
                            rec.update(tr.plan(df))
                        rec["plan_group"] = tr.group(p.id)
                    t2 = time.perf_counter()
                    with tr.span("action") as a:
                        op.action(df)
                    t3 = time.perf_counter()
            except Exception as exc:
                self.failed += 1
                rec["error"] = repr(exc)[:300]
                self.records.append(rec)
                print(f"# op {op.name} failed: {exc!r}"[:400], file=sys.stderr)
                return
            rec.update(probe.values)
            rec.update(
                construct_s=t1 - t0,
                plan_s=t2 - t1,
                action_s=t3 - t2,
                op_s=t3 - t0,
                construct_group=tr.group(c.id),
                action_group=tr.group(a.id),
            )
            with tr.span("check"):
                try:
                    rec["rows"] = op.check(df)
                    rec.update(getattr(op, "sink_facts", {}))
                except Exception as exc:
                    rec["check_error"] = repr(exc)[:300]
                    self._error(f"{op.name}: {exc!r}")
        rec["span"] = op_span.id
        self.records.append(rec)
        print(f"# op {op.name} {rec['op_s']:.3f} s", file=sys.stderr)

    def _error(self, msg: str) -> None:
        self.errors.append(msg)
        print(f"# CHECK FAILED {msg}"[:2000], file=sys.stderr)

    def _result(self) -> dict:
        ok = [r for r in self.records if "op_s" in r]
        if not ok:
            raise RuntimeError("no operation completed; there is nothing to report")
        times = [r["op_s"] for r in ok]
        e2e = {
            "setup_s": statistics.median(self.setups),
            "query_p50_s": statistics.median(times),
            "queries_per_s": len(ok) / sum(times),
            "rows_per_s": sum(r.get("rows", 0) for r in ok) / sum(times),
        }
        return {"e2e": e2e, "ok": ok}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    selftest.run_all()  # the checkers must reject perturbed outputs

    scratch = env.Scratch(trace=bool(args.trace))
    runner = None
    try:
        runner = Runner(args, scratch)
        res = runner.run()
        env.shutdown_spark(runner.spark)
        runner.spark = None
        if args.trace:
            metrics = tracing.per_layer(runner, res["ok"])
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["e2e"].items()}
    except Exception:
        traceback.print_exc()
        env.shutdown_spark(getattr(runner, "spark", None))
        return 1
    finally:
        scratch.close()
    print(
        json.dumps(
            {
                "correct": not runner.errors,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
