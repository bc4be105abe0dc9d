"""The benchmark harness under perfbench/ is frozen: it imports package
internals (private names included) and calls the pipeline entrypoint by
name. The scripts under tools/ do the same. This guard fails fast, without
Spark, when a refactor renames or drops any of them, and when a script in
tools/ is not named in README.md."""

import ast
import importlib
import os
from types import ModuleType

import numpy as np
import pytest

from streaming_utils import run_pipeline_module

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
TOOLS = os.path.join(ROOT, "tools")


def _scripts(directory: str) -> list:
    return sorted(f for f in os.listdir(directory) if f.endswith(".py"))


def _imported(module: str, name: str):
    """The object `from module import name` binds (a submodule included)."""
    mod = importlib.import_module(module)
    return getattr(mod, name) if hasattr(mod, name) else importlib.import_module(f"{module}.{name}")


def _assert_names_resolve(directory: str, fname: str):
    """Every `from X import Y` outside `directory` resolves, and so does
    every attribute read off an imported module (`core.apply_batch`) or off
    the pipeline entrypoint traced_stream loads as `rp`. Imports of a
    sibling script (`from scaling_bench import ...`, `from tools.x import
    ...`) are local and skipped."""
    local = {f[:-3] for f in _scripts(directory)} | {os.path.basename(directory), "__future__"}
    with open(os.path.join(directory, fname)) as f:
        tree = ast.parse(f.read())
    bound = {"rp": run_pipeline_module()}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module.split(".")[0] not in local:
            for a in node.names:
                bound[a.asname or a.name] = _imported(node.module, a.name)
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            mod = bound.get(node.value.id)
            if isinstance(mod, ModuleType):
                assert hasattr(mod, node.attr), (fname, node.value.id, node.attr)


@pytest.mark.parametrize("fname", ["traced_stream.py", "batch.py", "warm_probe.py"])
def test_perfbench_names_resolve(fname):
    _assert_names_resolve(PERFBENCH, fname)


@pytest.mark.parametrize("fname", _scripts(TOOLS))
def test_tool_names_resolve(fname):
    _assert_names_resolve(TOOLS, fname)
    with open(os.path.join(ROOT, "README.md")) as f:
        named = f"tools/{fname}" in f.read()
    assert named, f"README.md does not name tools/{fname}"


def test_driver_replay_apply_batch_returns_arrays():
    from dataflow_ordered_processing_spark.operators.ordered_core import (
        BUF_COLS,
        OrderedState,
        apply_batch,
    )

    arrays = {
        "turn_idx": np.array([2, 1], dtype=np.int64),
        "role": np.array(["user", "assistant"], dtype=object),
        "text": np.array(["b", "a"], dtype=object),
        "tool": np.array([None, None], dtype=object),
        "ts_us": np.array([2, 1], dtype=np.int64),
    }
    assert set(arrays) == set(BUF_COLS)
    out = apply_batch(OrderedState(), arrays, as_arrays=True)
    assert isinstance(out, dict) and out["turn_idx"].tolist() == [1, 2]
