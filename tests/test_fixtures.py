"""Fixture-directory lifecycle (gmail_bigquery_etl_spark/fixtures.py): one
per-process root under the temp dir, removed at exit by the process that
made it, and the read-path-only rule for reused fixtures."""

from __future__ import annotations

import ast
import glob
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO_ROOT, "gmail_bigquery_etl_spark")

# The only fixtures a query may reuse within a process: read-path inputs
# whose content is a pure function of sf_dir. A query whose gated operator
# is the write itself (MERGE, DML, IVM, schema/spec evolution, index
# growth) must use fresh_dir, so every run times that write.
CACHED_ALLOWLIST = {
    "time_travel",
    "time_travel_bkt",
    "forget",
    "dsar_orders",
    "dsar_lineitem",
    "pruned_sink",
    "ev_parted",
}


def _run(script: str, tmpdir: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO_ROOT,
        env={**os.environ, "TMPDIR": tmpdir},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_process_root_removed_at_exit(tmp_path):
    """Fresh and cached dirs land under one spark_graft_sinks_<pid>_<uuid>
    root in TMPDIR -- read when first used, not at import -- and the root
    is gone once the process exits."""
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    root = _run(
        f"""
import os
import gmail_bigquery_etl_spark.queries
from gmail_bigquery_etl_spark.fixtures import cached_dir, fresh_dir
os.environ["TMPDIR"] = {str(tmpdir)!r}
fresh = fresh_dir("f", "key")
os.makedirs(fresh)
calls = []
cached = cached_dir("c", "key", lambda p: (calls.append(p), os.makedirs(p)))
assert cached_dir("c", "key", calls.append) == cached and len(calls) == 1
assert os.path.dirname(fresh) == os.path.dirname(cached)
print(os.path.dirname(fresh))
""",
        str(tmp_path),
    )
    assert os.path.dirname(root) == str(tmpdir)
    assert os.path.basename(root).startswith("spark_graft_sinks_")
    assert not glob.glob(str(tmpdir / "spark_graft_sinks_*"))
    assert not glob.glob(str(tmp_path / "spark_graft_sinks_*"))


def test_cached_dir_rebuilds_after_failed_build(tmp_path):
    out = _run(
        """
import os
from gmail_bigquery_etl_spark.fixtures import cached_dir
def bad(p):
    os.makedirs(p)
    open(os.path.join(p, "partial"), "w").close()
    raise RuntimeError("build failed")
try:
    cached_dir("c", "key", bad)
except RuntimeError:
    pass
path = cached_dir("c", "key", os.makedirs)
print(sorted(os.listdir(path)))
""",
        str(tmp_path),
    )
    assert out == "[]"


def test_forked_child_keeps_parent_root(tmp_path):
    """A forked child that exits normally runs the inherited atexit
    handler, which must leave the parent's root in place."""
    out = _run(
        """
import os, sys
from gmail_bigquery_etl_spark.fixtures import fresh_dir
root = os.path.dirname(fresh_dir("f", "key"))
pid = os.fork()
if pid == 0:
    fresh_dir("g", "key")
    sys.exit(0)
_, status = os.waitpid(pid, 0)
assert os.WIFEXITED(status) and os.WEXITSTATUS(status) == 0
print(os.path.isdir(root))
""",
        str(tmp_path),
    )
    assert out == "True"
    assert not glob.glob(str(tmp_path / "spark_graft_sinks_*"))


def test_pruned_sinks_keyed_by_full_sf_path(spark, tmp_path):
    """Two sf dirs with the same basename get their own partitioned sink,
    each holding its own events' ids."""
    from gmail_bigquery_etl_spark.sources.synthetic import partitioned_sink_path

    src = os.path.join("/root/testdata/sf0.001", "events.parquet")
    a, b = tmp_path / "a" / "sf", tmp_path / "b" / "sf"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    shutil.copy(src, a / "events.parquet")
    events = pq.read_table(src)
    pq.write_table(events.slice(0, 300), b / "events.parquet")

    pa_, pb = partitioned_sink_path(spark, str(a)), partitioned_sink_path(spark, str(b))
    assert pa_ != pb
    assert os.path.basename(pa_).startswith("pruned_sink_")
    assert os.path.basename(pb).startswith("pruned_sink_")
    ids = events.column("event_id").to_pylist()
    assert spark.read.parquet(pa_).count() == sum(i % 3 == 0 for i in ids)
    assert spark.read.parquet(pb).count() == sum(i % 3 == 0 for i in ids[:300])


def test_cached_dir_only_for_read_path_fixtures():
    names = set()
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if "cached_dir" not in (getattr(f, "id", None), getattr(f, "attr", None)):
                continue
            arg = node.args[0] if node.args else None
            assert isinstance(arg, ast.Constant) and isinstance(arg.value, str), (
                f"{path}:{node.lineno}: cached_dir needs a literal fixture name"
            )
            names.add(arg.value)
    assert names == CACHED_ALLOWLIST


def test_no_fixture_locations_outside_fixtures_module():
    """Only fixtures.py decides where fixture directories live."""
    banned = ("gettempdir", "spark.sql.warehouse.dir", "spark-warehouse")
    for sub in ("queries", "sources"):
        for path in glob.glob(os.path.join(PKG, sub, "*.py")):
            with open(path) as fh:
                src = fh.read()
            for word in banned:
                assert word not in src, f"{path} names {word!r}"
            assert "from .warehouse import _" not in src, path
