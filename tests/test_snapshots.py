"""The shared snapshot-pointer sink (gmail_bigquery_etl_spark/streaming/
snapshots.py): one owner for the pointer and the replay guard, and a
redelivered batch that changes nothing in every sink that commits
through it."""

from __future__ import annotations

import ast
import glob
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from gmail_bigquery_etl_spark.streaming.snapshots import current_snapshot_dir

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO_ROOT, "gmail_bigquery_etl_spark")
OWNER = os.path.join(PKG, "streaming", "snapshots.py")


def _code_strings(tree: ast.AST):
    """String constants outside docstrings (f-string pieces included)."""
    docs = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docs.add(id(first.value))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            yield node


def test_only_snapshots_module_owns_the_pointer():
    """Nothing but streaming/snapshots.py names the pointer file, parses
    or builds ``snap_<id>`` names, or imports its private names."""
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        if path == OWNER:
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in _code_strings(tree):
            for word in ("_CURRENT", "snap_"):
                assert word not in node.value, (
                    f"{path}:{node.lineno} names {word!r}"
                )
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for alias in node.names:
                    assert alias.name not in ("_POINTER", "_PREFIX"), (
                        f"{path}:{node.lineno} imports {alias.name}"
                    )
            if isinstance(node, ast.Name):
                assert node.id != "_POINTER", f"{path}:{node.lineno}"


def test_no_stream_starter_takes_available_now():
    """Every streaming sink drains with availableNow (snapshots.start)."""
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name.startswith(
                "start"
            ):
                args = node.args.args + node.args.kwonlyargs
                assert "available_now" not in {a.arg for a in args}, (
                    f"{path}:{node.lineno} {node.name}"
                )


def _ann(spark, sink):
    from gmail_bigquery_etl_spark.streaming.ann_index import (
        apply_index_batch,
        read_index,
        train_quantizer,
    )

    vecs = spark.createDataFrame(
        [
            (i, i % 2, [1.0, 0.1 * i] if i % 2 else [0.1 * i, 1.0])
            for i in range(12)
        ],
        "vec_id bigint, label int, embedding array<double>",
    )
    train_quantizer(vecs, sink, dim=2)
    batches = [
        vecs.where(F.col("vec_id") < 4),
        vecs.where(F.col("vec_id").between(4, 7)),
        vecs.where(F.col("vec_id") >= 8),
    ]
    return (
        batches,
        lambda df, i: apply_index_batch(spark, df, i, sink),
        lambda: read_index(spark, sink),
    )


def _dedup(spark, sink):
    from gmail_bigquery_etl_spark.streaming.dedup_index import (
        apply_dedup_batch,
        read_dedup_index,
    )

    def docs(lo, hi):
        return spark.createDataFrame(
            [(i, f"document {i} says word{i} and word{i * 7}") for i in range(lo, hi)],
            "doc_id bigint, text string",
        )

    return (
        [docs(0, 4), docs(4, 8), docs(8, 12)],
        lambda df, i: apply_dedup_batch(spark, df, i, sink),
        lambda: read_dedup_index(spark, sink),
    )


def _matview(spark, sink):
    from gmail_bigquery_etl_spark.streaming.matview import (
        apply_view_delta,
        read_view,
    )

    def delta(rows):
        return spark.createDataFrame(rows, "g string, cents bigint, mult int")

    return (
        [
            delta([("a", 100, 1), ("b", 10, 1)]),
            delta([("a", 100, -1), ("b", 5, 1)]),
            delta([("b", 7, 1), ("z", 1, 1)]),
        ],
        lambda df, i: apply_view_delta(spark, df, i, sink, ["g"], ["cents"]),
        lambda: read_view(spark, sink),
    )


def _cep(spark, sink):
    from gmail_bigquery_etl_spark.streaming.cep import (
        apply_cep_batch,
        read_cep_state,
    )

    def events(rows):
        return spark.createDataFrame(
            [(k, datetime(2024, 1, 1, 0, m), e, t) for k, m, e, t in rows],
            "user_id string, ts timestamp, event_id bigint, event_type string",
        )

    return (
        [
            events([("u1", 0, 1, "view"), ("u2", 1, 2, "view")]),
            events([("u1", 2, 3, "click"), ("u3", 3, 4, "view")]),
            events([("u1", 4, 5, "purchase"), ("u4", 5, 6, "view")]),
        ],
        lambda df, i: apply_cep_batch(
            spark, df, i, sink, "user_id", "ts", "event_id",
            F.substring("event_type", 1, 1),
        ),
        lambda: read_cep_state(spark, sink),
    )


@pytest.mark.parametrize("sink_case", [_ann, _dedup, _matview, _cep])
def test_redelivered_batch_leaves_two_batch_state(spark, tmp_path, sink_case):
    """Batches 0 and 1 commit; batch 1 then arrives again with different
    rows (a crash-window redelivery). The pointer and the contents must
    stay the two-batch state."""
    sink = str(tmp_path / "sink")
    (b0, b1, other), apply, read = sink_case(spark, sink)
    apply(b0, 0)
    apply(b1, 1)
    pointer = current_snapshot_dir(sink)
    state = sorted(read().collect())
    assert os.path.basename(pointer) == "snap_1"

    apply(other, 1)
    assert current_snapshot_dir(sink) == pointer
    assert sorted(read().collect()) == state
