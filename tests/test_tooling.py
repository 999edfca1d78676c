"""Test-gate and session plumbing: the slow gate matches the same tests
whatever directory pytest runs from, and the private pyspark debugging
cache the read boundary resets still exists."""

from __future__ import annotations

import os
from types import SimpleNamespace

import conftest
import pyspark.errors.utils as eu

from kafka_connect_bigquery_spark import session


def _item(path: str, nodeid: str):
    return SimpleNamespace(path=path, nodeid=nodeid)


def test_slow_gate_id_ignores_rootdir():
    path = os.path.join(conftest.TESTS_DIR, "test_flat_race.py")
    inner = "test_two_process_appends[3]"
    from_repo = conftest._gate_id(_item(path, f"tests/test_flat_race.py::{inner}"))
    from_tests = conftest._gate_id(_item(path, f"test_flat_race.py::{inner}"))
    assert from_repo == from_tests == f"test_flat_race.py::{inner}"
    assert from_repo.startswith(conftest._SLOW_PREFIXES)
    module = conftest._gate_id(_item(path, "tests/test_flat_race.py"))
    assert module == "test_flat_race.py"


def test_debugging_cache_reset(monkeypatch):
    # the private attribute the reset relies on (verified on PySpark 4.1.2)
    assert hasattr(eu, "_enable_debugging_cache")
    monkeypatch.setattr(eu, "_enable_debugging_cache", True)
    assert session._reset_debugging_flag_cache() is True
    assert eu._enable_debugging_cache is None


def test_debugging_cache_reset_without_the_attribute(monkeypatch):
    monkeypatch.delattr(eu, "_enable_debugging_cache")
    assert session._reset_debugging_flag_cache() is False
    assert not hasattr(eu, "_enable_debugging_cache")


def test_bench_summary_skips_an_entry_that_overflows_and_keeps_adding():
    import json

    import bench

    summary = {"metric": "total", "queries": {"q1": 1.0}}
    base = len(json.dumps(summary, separators=(",", ":")))
    timings = {"q1": 9.0, "a_very_long_query_name_" + "x" * 40: 2.0, "q2": 3.0}
    budget = base + len(',"q2":3.0')
    bench.widen_summary(summary, timings, list(timings), budget)
    # add-only: q1 keeps its value; the long key is skipped, q2 still fits
    assert summary["queries"] == {"q1": 1.0, "q2": 3.0}
    assert len(json.dumps(summary, separators=(",", ":"))) <= budget


def _bucket_partition_writers(path: str) -> list[str]:
    """``file:function`` for every ``partitionBy("__bucket")`` call in
    one source file, by the innermost enclosing function."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read())
    hits = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "partitionBy"
            and any(
                isinstance(a, ast.Constant) and a.value == "__bucket"
                for a in node.args
            )
        ):
            hits.append(f"{os.path.basename(path)}:{func}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return hits


def test_bucket_generations_have_one_writer():
    """Every bucket generation is written by
    ``Warehouse._write_bucket_generations``, which repartitions on the
    bucket id first so each generation is one file; a second
    ``partitionBy("__bucket")`` writer would bring back several files
    per bucket and slow key-bucket point reads."""
    pkg = os.path.join(conftest.REPO, "kafka_connect_bigquery_spark")
    hits = []
    for root, _, names in os.walk(pkg):
        for name in names:
            if name.endswith(".py"):
                hits += _bucket_partition_writers(os.path.join(root, name))
    assert hits == ["warehouse.py:_write_bucket_generations"]


_WAREHOUSE_NAMES = ("wh", "warehouse")


def _private_warehouse_calls(path: str) -> list[str]:
    """``file:line attr`` for every call of a ``_``-prefixed attribute on
    a warehouse object (``wh``/``warehouse``, bare or as an attribute
    such as ``self.wh``) in one source file."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read())
    hits = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        attr, owner = node.func.attr, node.func.value
        name = (
            owner.id if isinstance(owner, ast.Name)
            else owner.attr if isinstance(owner, ast.Attribute)
            else None
        )
        if name in _WAREHOUSE_NAMES and attr.startswith("_") and not attr.startswith("__"):
            hits.append(f"{os.path.relpath(path, conftest.REPO)}:{node.lineno} {attr}")
    return hits


def test_no_private_warehouse_calls_outside_sinks():
    """Manifest and file-layout knowledge stays behind ``Warehouse``'s
    public methods: no module outside ``sinks/`` calls a private one."""
    pkg = os.path.join(conftest.REPO, "kafka_connect_bigquery_spark")
    sinks = os.path.join(pkg, "sinks")
    hits = []
    for root, _, names in os.walk(pkg):
        if os.path.commonpath([root, sinks]) == sinks:
            continue
        for name in names:
            if name.endswith(".py"):
                hits += _private_warehouse_calls(os.path.join(root, name))
    assert hits == []
