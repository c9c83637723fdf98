"""Run isolation, the Spark process lifecycle, and /proc readers.

Every run works inside its own scratch directory under the checkout: the
working directory (so ``./spark-warehouse`` fixture builds land there),
``TMPDIR`` (so the query modules' ``spark_graft_sinks_*`` trees land
there), Spark's local dirs and the JVM's ``java.io.tmpdir``. The directory
is removed when the run ends, so no run can reuse a fixture an earlier run
built and nothing is left behind.

Spark settings the benchmark needs (event log, temp dirs) go into a
``spark-defaults.conf`` in a benchmark-owned ``SPARK_CONF_DIR``, read when
the JVM starts; ``session.get_spark`` still applies its own settings.
"""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(REPO_ROOT, ".perfbench_run")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class Scratch:
    """One run's private directory tree; ``close()`` deletes it."""

    def __init__(self, trace: bool) -> None:
        self.root = os.path.join(RUNS_DIR, uuid.uuid4().hex)
        self.cwd = self._mk("cwd")
        self.tmp = self._mk("tmp")
        self.data = self._mk("data")
        self.work = self._mk("work")
        self.event_log = self._mk("eventlog") if trace else None
        conf_dir = self._mk("conf")
        lines = [
            "spark.local.dir " + self._mk("local"),
            "spark.driver.extraJavaOptions "
            f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        ]
        if trace:
            lines += [
                "spark.eventLog.enabled true",
                f"spark.eventLog.dir file://{self.event_log}",
                "spark.eventLog.compress false",
                "spark.eventLog.rolling.enabled false",
            ]
        with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
            f.write("\n".join(lines) + "\n")
        self._old_cwd = os.getcwd()
        os.environ.update(
            {
                "SPARK_CONF_DIR": conf_dir,
                "SPARK_LOCAL_DIRS": os.path.join(self.root, "local"),
                "TMPDIR": self.tmp,
                "SPARK_GRAFT_CPUS": str(cpu_count()),
                # Python workers start in Spark's work dir: give them the repo.
                "PYTHONPATH": os.pathsep.join(
                    p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
                ),
            }
        )
        tempfile.tempdir = self.tmp
        os.chdir(self.cwd)

    def _mk(self, name: str) -> str:
        path = os.path.join(self.root, name)
        os.makedirs(path, exist_ok=True)
        return path

    def close(self) -> None:
        os.chdir(self._old_cwd)
        tempfile.tempdir = None
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass  # another run's directory is still there


# --- /proc -----------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine so far, from /proc/stat:
    the share of time a hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by the Python processes below the JVM
    (daemon, live workers, and exited workers the daemon has reaped)."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"python" not in cmd.split(b"\0")[0]:
                continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


# --- Spark process lifecycle -------------------------------------------------


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process below
    this one (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    # Workers outlive the JVM briefly (and are re-parented when it exits),
    # so wait on the pids seen before the stop rather than on the tree.
    deadline = time.monotonic() + 20
    while True:
        left = [p for p in started if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if time.monotonic() > deadline + 10:
                return
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
