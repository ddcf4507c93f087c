"""``util.python_task``: a Python-worker kernel leaves its worker with no
cached zipimporters, so the next task's ``importlib.invalidate_caches()``
re-reads no archive; every kernel in the package carries the helper; a
wrapped pandas UDF keeps its type-hint eval type."""

from __future__ import annotations

import ast
from collections.abc import Iterator
from pathlib import Path

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_evm_indexer_spark.util import python_task

PKG = Path(__file__).resolve().parents[1] / "rust_evm_indexer_spark"

#: functions that run on a Python worker: the first argument of these calls
_KERNEL_CALLS = {
    "mapInArrow", "mapInPandas", "applyInArrow", "applyInPandas",
    "applyInPandasWithState",
}
#: decorators (or calls) that turn their function into a worker-side UDF
_UDF_FACTORIES = {"pandas_udf", "arrow_udf", "udf"}


def test_reused_worker_starts_without_zipimporters(spark):
    @python_task
    def probe(batches):
        import sys
        import zipimport

        held = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"held": [held]})

    def run(tasks: int) -> list[int]:
        df = spark.range(0, 4 * tasks, numPartitions=tasks)
        return [r.held for r in df.mapInArrow(probe, "held long").collect()]

    run(spark.sparkContext.defaultParallelism)
    # one task, served by a worker the first job left idle
    assert run(1) == [0]


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _worker_functions(tree: ast.Module) -> list[ast.FunctionDef | None]:
    """Every function of one module that runs on a Python worker (None
    for a kernel argument the scan cannot resolve to a ``def``)."""
    defs: dict[str, list[ast.FunctionDef]] = {}
    assigned: dict[str, ast.expr] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            defs.setdefault(node.name, []).append(node)
        elif (isinstance(node, ast.Assign) and len(node.targets) == 1
              and isinstance(node.targets[0], ast.Name)):
            assigned[node.targets[0].id] = node.value

    def resolve(expr: ast.expr) -> list[ast.FunctionDef | None]:
        if isinstance(expr, ast.Name) and expr.id in defs:
            return defs[expr.id]
        if isinstance(expr, ast.Name) and expr.id in assigned:
            return resolve(assigned[expr.id])
        if isinstance(expr, ast.Call) and _name(expr) == "partial" and expr.args:
            return resolve(expr.args[0])
        return [None]

    out: list[ast.FunctionDef | None] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and any(
            _name(d) in _UDF_FACTORIES for d in node.decorator_list
        ):
            out.append(node)
        elif isinstance(node, ast.Call) and node.args and (
            _name(node) in _KERNEL_CALLS
            # a factory called on a function, not on its return type
            or (_name(node) in _UDF_FACTORIES
                and isinstance(node.args[0], (ast.Name, ast.Lambda)))
        ):
            out.extend(resolve(node.args[0]))
    return out


def _carries_helper(fn: ast.FunctionDef) -> bool:
    """``@python_task`` is applied to the body itself: below any UDF
    factory decorator, which must see the wrapped function."""
    names = [_name(d) for d in fn.decorator_list]
    if "python_task" not in names:
        return False
    factories = [i for i, n in enumerate(names) if n in _UDF_FACTORIES]
    return all(i < names.index("python_task") for i in factories)


def test_every_worker_function_carries_python_task():
    found, bare = set(), []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn in _worker_functions(ast.parse(path.read_text(), str(path))):
            if fn is None:
                bare.append(f"{rel}: a kernel argument that is not a def")
            elif not _carries_helper(fn):
                bare.append(f"{rel}:{fn.lineno} {fn.name}")
            else:
                found.add((rel, fn.name))
    assert not bare, f"Python-worker functions without @python_task: {bare}"
    # the scan sees the known sites, so an empty result cannot pass
    assert {
        ("ingest/backfill.py", "_kernel"),
        ("operators/multimodal.py", "kernel"),
        ("operators/pq.py", "enc"),
        ("operators/bpe.py", "enc_len"),
        ("operators/bpe.py", "enc"),
        ("operators/similarity.py", "_sig"),
        ("streaming/stateful.py", "_update"),
    } <= found


def test_wrapped_pandas_udf_keeps_its_eval_type():
    def series(v: pd.Series) -> pd.Series:
        return v

    def batches(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from it

    def agg(v: pd.Series) -> float:
        return float(v.sum())

    for fn in (series, batches, agg):
        plain = F.pandas_udf(T.LongType())(fn)
        wrapped = F.pandas_udf(T.LongType())(python_task(fn))
        assert wrapped.evalType == plain.evalType, fn.__name__
