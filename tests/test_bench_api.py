"""The engine surface the benchmark drives: every ``binlog_spark`` name
that ``perfbench/workloads.py`` and ``bench.py`` import must exist, and
every keyword they pass must be in the callee's signature.

perfbench's traced passes call the engine's layers directly, so a
simplification that renames or drops one of them breaks ``--trace 1``
without failing any other test.  No Spark session is started: the
scripts are parsed, not run.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SCRIPTS = ("perfbench/workloads.py", "bench.py")


def _tree(rel: str) -> ast.Module:
    with open(os.path.join(ROOT, rel)) as f:
        return ast.parse(f.read(), rel)


def _engine_imports(tree: ast.Module) -> dict[str, object]:
    """Local name → object for every ``from binlog_spark… import …``."""
    out = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.ImportFrom) and node.module
                and node.module.split(".")[0] == "binlog_spark"):
            mod = importlib.import_module(node.module)
            for a in node.names:
                if not hasattr(mod, a.name):  # a submodule
                    importlib.import_module(f"{node.module}.{a.name}")
                assert hasattr(mod, a.name), f"{node.module}.{a.name} is gone"
                out[a.asname or a.name] = getattr(mod, a.name)
    return out


def _instances(tree: ast.Module, names: dict) -> dict[str, type]:
    """Variables assigned an instance of an imported engine class, e.g.
    ``table = LakeTable(lake)``, so ``table.merge(…)`` can be checked."""
    out = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Name)
                and inspect.isclass(names.get(node.value.func.id))):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    out[t.id] = names[node.value.func.id]
    return out


def _callee(call: ast.Call, names: dict, instances: dict):
    f = call.func
    if isinstance(f, ast.Name):
        return names.get(f.id)
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
        if inspect.ismodule(names.get(f.value.id)):
            return getattr(names[f.value.id], f.attr)
        if f.value.id in instances:
            return getattr(instances[f.value.id], f.attr, None)
    return None


def _accepts(fn, keys) -> list[str]:
    params = inspect.signature(fn).parameters
    if any(p.kind is p.VAR_KEYWORD for p in params.values()):
        return []
    return [k for k in keys if k not in params]


@pytest.mark.parametrize("rel", SCRIPTS)
def test_engine_keywords_exist(rel):
    tree = _tree(rel)
    names = _engine_imports(tree)
    assert names, f"{rel} imports nothing from binlog_spark"
    instances = _instances(tree, names)
    checked, missing = 0, []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = _callee(node, names, instances)
        if fn is None or not callable(fn):
            continue
        checked += 1
        bad = _accepts(fn, [k.arg for k in node.keywords if k.arg])
        missing += [f"{ast.unparse(node.func)}({k}=) at {rel}:{node.lineno}"
                    for k in bad]
    assert checked
    assert not missing, missing


def _batch_settings_keys() -> set[str]:
    """Keys of the dict perfbench's ``_batch_settings`` returns."""
    for node in ast.walk(_tree("perfbench/workloads.py")):
        if isinstance(node, ast.FunctionDef) and node.name == "_batch_settings":
            ret = [n for n in ast.walk(node) if isinstance(n, ast.Return)]
            return {k.value for k in ret[0].value.keys}
    raise AssertionError("perfbench/workloads.py has no _batch_settings")


def test_batch_settings_reach_the_engine():
    """``_batch_settings`` reaches the engine through ``**kw``: its
    ``offsets`` goes to apply_staged_batch (and LakeTable.merge), the
    rest to every winner search the traced passes call."""
    from binlog_spark.cdc.multi import (apply_staged_batch, table_upserts,
                                        table_upserts_minimal)
    from binlog_spark.cdc.pipeline import reduce_changes
    from binlog_spark.lake.table import LakeTable
    keys = _batch_settings_keys()
    assert "offsets" in keys
    plan = keys - {"offsets"}
    for fn in (reduce_changes, table_upserts, table_upserts_minimal,
               apply_staged_batch):
        assert not _accepts(fn, plan), fn.__name__
    assert not _accepts(apply_staged_batch, keys)
    assert not _accepts(LakeTable.merge, ["offsets"])
    # BulkReplay adds the decode partition count to the same dict
    from binlog_spark.decoder.kernel import decode_changes, decode_keys
    for fn in (decode_changes, decode_keys):
        assert not _accepts(fn, ["partitions"]), fn.__name__


def test_stream_trigger_default_is_readable():
    """perfbench groups the stream's files by stream_blobs' default
    ``max_files_per_trigger``."""
    from binlog_spark.streaming.tail import stream_blobs
    default = inspect.signature(stream_blobs).parameters[
        "max_files_per_trigger"].default
    assert isinstance(default, int) and default > 0
