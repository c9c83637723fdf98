"""The traced run: spans, per-span job groups, layer probes, event-log parse.

Spans are recorded by the benchmark's own code around its calls into the
program (run -> workload -> operation -> construct / plan / action). Each
span sets a Spark job group named after it, so the event log's jobs,
stages and tasks attach to the span that caused them. The event log is
enabled by the benchmark's own ``spark-defaults.conf`` (uncompressed, not
rolled) and parsed after the session stops.

Layer figures come only from
* timing calls into each layer's public functions (the query function,
  ``catalog.load_table``, ``QueryExecution.executedPlan``),
* ``queryExecution().tracker().phases()`` for the Catalyst phases,
* the event log (jobs, stages, task metrics, SQL metrics, final plans),
* ``/proc`` of the benchmark's own descendants for Python-worker CPU.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from env import python_worker_cpu_s


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans; when ``enabled`` also sets job groups and probes."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    sc: object = None
    load_table_calls: int = 0
    load_table_s: float = 0.0

    def group(self, span_id: int) -> str:
        return f"perfbench-{span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp.id)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(self.group(sp.id), name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.enabled and self.sc is not None and self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]), self.spans[self._stack[-1]].name)

    def install_catalog_probe(self) -> None:
        """Time every call into ``catalog.load_table``, wherever the query
        modules imported it from."""
        from gmail_bigquery_etl_spark import catalog

        orig = catalog.load_table

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.load_table_calls += 1
                self.load_table_s += time.perf_counter() - t0

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("gmail_bigquery_etl_spark") and getattr(mod, "load_table", None) is orig:
                mod.load_table = load_table

    def plan(self, df) -> dict:
        """The plan span: physical planning of the operation's own
        QueryExecution, and the tracker's phase times in ms."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        out = {}
        phases = qe.tracker().phases()
        for key in ("analysis", "optimization", "planning"):
            opt = phases.get(key)
            ms = 0
            if opt is not None and opt.isDefined():
                p = opt.get()
                ms = p.endTimeMs() - p.startTimeMs()
            out[f"catalyst.{key}_ms"] = float(ms)
        return out


class OpProbe:
    """Per-operation counters read around one operation (none untraced)."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.values: dict[str, float] = {}

    def __enter__(self):
        if self.tracer.enabled:
            self.calls0 = self.tracer.load_table_calls
            self.secs0 = self.tracer.load_table_s
            self.cpu0 = python_worker_cpu_s()
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.values = {
                "catalog.load_table_calls": float(self.tracer.load_table_calls - self.calls0),
                "catalog.load_table_s": self.tracer.load_table_s - self.secs0,
                "python.worker_cpu_s": python_worker_cpu_s() - self.cpu0,
            }
        return False


# --- event log -------------------------------------------------------------


class EventLog:
    """Jobs, stages, tasks and final SQL plans of one application, keyed by
    the job group that was set when each job started."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str] = {}
        self.tasks: dict[str, list[dict]] = {}
        self.exec_group: dict[int, str] = {}
        self.plans: dict[int, dict] = {}
        self.accums: dict[int, float] = {}
        self.acc_tasks: dict[int, set[int]] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id", "")
            self.jobs[e["Job ID"]] = {
                "group": group,
                "start": e.get("Submission Time", 0),
                "end": e.get("Submission Time", 0),
            }
            for s in e.get("Stage IDs", []):
                self.stage_group[s] = group
            if "spark.sql.execution.id" in props:
                self.exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e.get("Completion Time", job["start"])
        elif kind == "SparkListenerTaskEnd":
            group = self.stage_group.get(e["Stage ID"], "")
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
            self.tasks.setdefault(group, []).append(
                {
                    "stage": e["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_r": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    self._add(acc["ID"], acc.get("Update", 0))
                    self.acc_tasks.setdefault(acc["ID"], set()).add(info["Task ID"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("DriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                self._add(acc_id, value)

    def _add(self, acc_id: int, value) -> None:
        try:
            v = float(value)
        except (TypeError, ValueError):
            return
        self.accums[acc_id] = self.accums.get(acc_id, 0.0) + v

    def acc(self, acc_id: int) -> float:
        return self.accums.get(acc_id, 0.0)

    def group_jobs(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group]

    def group_plans(self, group: str) -> list[dict]:
        return [p for x, p in sorted(self.plans.items()) if self.exec_group.get(x) == group]


def _walk(node: dict, parents: tuple = ()):
    yield node, parents
    for child in node.get("children", []):
        yield from _walk(child, parents + (node,))


def _metric(node: dict, name: str) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return m["accumulatorId"]
    return None


_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")


def plan_layers(log: EventLog, plans: list[dict]) -> dict:
    """Plan-shape counts, Python-worker bytes, paginated-source and
    incremental-operator row counts of the given final plans."""
    out = dict.fromkeys(
        [
            "plan.exchanges", "plan.broadcasts", "plan.scans", "plan.pins",
            "plan.python_nodes", "python.bytes_to_workers",
            "python.bytes_from_workers", "paginated.rows_out", "paginated.tasks",
        ],
        0.0,
    )
    ingest = None
    for root in plans:
        for node, parents in _walk(root):
            name = node["nodeName"]
            if name == "Exchange":
                out["plan.exchanges"] += 1
            elif name == "BroadcastExchange":
                out["plan.broadcasts"] += 1
            if name.startswith(("Scan ", "BatchScan", "FileScan", "LocalTableScan", "InMemoryTableScan")):
                out["plan.scans"] += 1
                if "ExistingRDD" in name:
                    out["plan.pins"] += 1
            sent = _metric(node, "data sent to Python workers")
            if sent is not None:
                out["plan.python_nodes"] += 1
                out["python.bytes_to_workers"] += log.acc(sent)
                back = _metric(node, "data returned from Python workers")
                out["python.bytes_from_workers"] += log.acc(back) if back is not None else 0
            if name.startswith("BatchScan paginated_api"):
                rows = _metric(node, "number of output rows")
                out["paginated.rows_out"] += log.acc(rows)
                out["paginated.tasks"] += len(log.acc_tasks.get(rows, ()))
                ingest = (root, node, parents)
    if ingest is not None:
        out.update(_incremental(log, *ingest))
    return out


def _rows(log: EventLog, node: dict) -> float | None:
    acc = _metric(node, "number of output rows")
    return None if acc is None else log.acc(acc)


def _incremental(log: EventLog, root: dict, scan: dict, parents: tuple) -> dict:
    """Row counts at the boundaries of ``ingest_increment``: the source scan,
    the label filter above it, the anti-join above that, and the plan's
    topmost counted node (the per-id dedup) -- read from the SQL metrics of
    the one plan that contains the paginated scan."""
    rows_in = _rows(log, scan) or 0.0
    after_label = after_anti = None
    build = 0.0
    chain = list(reversed(parents))  # nearest ancestor first
    for i, node in enumerate(chain):
        name = node["nodeName"]
        if after_label is None and name == "Filter":
            after_label = _rows(log, node)
        if name.startswith(_JOINS):
            after_anti = _rows(log, node)
            below = chain[i - 1] if i > 0 else scan
            for side in node.get("children", []):
                if side is not below:
                    build = next(
                        (v for n, _ in _walk(side) if (v := _rows(log, n)) is not None), 0.0
                    )
            break
    after_label = rows_in if after_label is None else after_label
    after_anti = after_label if after_anti is None else after_anti
    rows_out = next((v for n, _ in _walk(root) if (v := _rows(log, n)) is not None), 0.0)
    return {
        "incremental.rows_in": rows_in,
        "incremental.rows_label_dropped": rows_in - after_label,
        "incremental.rows_in_sink": after_label - after_anti,
        "incremental.rows_duplicate": after_anti - rows_out,
        "incremental.rows_out": rows_out,
        "incremental.build_rows": build,
    }


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def exec_layers(log: EventLog, group: str, action_s: float, cores: int) -> dict:
    tasks = log.tasks.get(group, [])
    stages: dict[int, list[float]] = {}
    for t in tasks:
        stages.setdefault(t["stage"], []).append(t["run_ms"])
    skew = 1.0
    for runs in stages.values():
        if len(runs) > 1 and statistics.median(runs) > 0:
            skew = max(skew, max(runs) / statistics.median(runs))
    run_s = sum(t["run_ms"] for t in tasks) / 1000.0
    return {
        "exec.action_s": action_s,
        "exec.jobs": float(len(log.group_jobs(group))),
        "exec.stages": float(len(stages)),
        "exec.tasks": float(len(tasks)),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "exec.shuffle_write_bytes": float(sum(t["shuffle_w"] for t in tasks)),
        "exec.shuffle_read_bytes": float(sum(t["shuffle_r"] for t in tasks)),
        "exec.spill_bytes": float(sum(t["spill"] for t in tasks)),
        "exec.task_skew": skew,
        "exec.core_busy_share": run_s / (action_s * cores) if action_s > 0 else 0.0,
    }


def construct_layers(log: EventLog, group: str, construct_s: float) -> dict:
    jobs = log.group_jobs(group)
    covered = _union_s([(j["start"], j["end"]) for j in jobs])
    return {
        "queries.construct_s": construct_s,
        "queries.construct_self_s": max(0.0, construct_s - covered),
        "queries.eager_jobs": float(len(jobs)),
        "queries.eager_job_s": sum(j["end"] - j["start"] for j in jobs) / 1000.0,
    }


def event_log_path(directory: str, app_id: str) -> str:
    for name in (app_id, app_id + ".inprogress"):
        path = os.path.join(directory, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"no event log for {app_id} in {directory}")


# --- per-layer metrics of one traced run ---------------------------------------

# name -> (unit, better). Times and counts are means per operation;
# shares are taken over the run's totals.
PER_LAYER = {
    "queries.construct_s": ("s", "lower"),
    "queries.construct_self_s": ("s", "lower"),
    "queries.eager_jobs": ("count", "lower"),
    "queries.eager_job_s": ("s", "lower"),
    "catalog.load_table_calls": ("count", "lower"),
    "catalog.load_table_s": ("s", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "plan.exchanges": ("count", "lower"),
    "plan.broadcasts": ("count", "lower"),
    "plan.scans": ("count", "lower"),
    "plan.pins": ("count", "lower"),
    "plan.python_nodes": ("count", "lower"),
    "exec.action_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.task_skew": ("ratio", "lower"),
    "exec.core_busy_share": ("ratio", "higher"),
    "python.worker_cpu_s": ("s", "lower"),
    "python.bytes_to_workers": ("bytes", "lower"),
    "python.bytes_from_workers": ("bytes", "lower"),
    "paginated.rows_out": ("rows", "higher"),
    "paginated.tasks": ("count", "lower"),
    "incremental.rows_in": ("rows", "higher"),
    "incremental.rows_label_dropped": ("rows", "lower"),
    "incremental.rows_in_sink": ("rows", "lower"),
    "incremental.rows_duplicate": ("rows", "lower"),
    "incremental.rows_out": ("rows", "higher"),
    "incremental.build_rows": ("rows", "lower"),
    "incremental.useful_share": ("ratio", "higher"),
    "batched_sink.rows_written": ("rows", "higher"),
    "batched_sink.files": ("count", "lower"),
    "batched_sink.bytes_written": ("bytes", "lower"),
    "batched_sink.batches_failed": ("count", "lower"),
    "batched_sink.bytes_per_row": ("bytes/row", "lower"),
    "trace.query_p50_s": ("s", "lower"),
    "trace.plan_span_s": ("s", "lower"),
}


def op_layers(log: EventLog, rec: dict, cores: int) -> dict:
    """Every per-layer figure of one traced operation."""
    out = {k: rec[k] for k in PER_LAYER if k in rec}
    out.update(construct_layers(log, rec["construct_group"], rec["construct_s"]))
    out.update(exec_layers(log, rec["action_group"], rec["action_s"], cores))
    out.update(plan_layers(log, log.group_plans(rec["action_group"])))
    return out


def per_layer(runner, ok: list[dict]) -> dict:
    """Per-layer metrics of the run (printing each operation's record and
    the span list first), as the result line's ``metrics`` object."""
    log = EventLog(event_log_path(runner.scratch.event_log, runner.app_id))
    per_op = []
    for rec in ok:
        layers = op_layers(log, rec, runner.cores)
        per_op.append(layers)
        print(json.dumps({"op": rec["op"], "span": rec["span"], **layers}))
    for sp in runner.tracer.spans:
        print(json.dumps({"span": sp.id, "name": sp.name, "parent": sp.parent,
                          "start": sp.start, "end": sp.end}))
    n = max(1, len(per_op))
    total = lambda k: sum(op.get(k, 0.0) for op in per_op)  # noqa: E731
    mean = {k: total(k) / n for k in PER_LAYER}
    action = total("exec.action_s")
    mean["exec.core_busy_share"] = total("exec.task_run_s") / (action * runner.cores) if action else 0.0
    mean["exec.task_skew"] = statistics.median(op["exec.task_skew"] for op in per_op) if per_op else 1.0
    rows_in = total("incremental.rows_in")
    mean["incremental.useful_share"] = total("incremental.rows_out") / rows_in if rows_in else 0.0
    sink_rows = sum(f.get("sink_rows", 0) for f in runner.round_facts)
    sink_bytes = sum(f.get("sink_bytes", 0) for f in runner.round_facts)
    mean["batched_sink.bytes_per_row"] = sink_bytes / sink_rows if sink_rows else 0.0
    mean["trace.query_p50_s"] = statistics.median(r["op_s"] for r in ok) if ok else 0.0
    mean["trace.plan_span_s"] = sum(r["plan_s"] for r in ok) / n
    return {k: {"value": float(mean[k]), "unit": u} for k, (u, _) in PER_LAYER.items()}
