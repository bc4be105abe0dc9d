"""The benchmark harness under perfbench/ is frozen: it imports package
internals (private names included) and calls the pipeline entrypoint by
name. This guard fails fast, without Spark, when a refactor renames or
drops any of them."""

import ast
import importlib
import importlib.util
import os
from types import ModuleType

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
LOCAL = {f[:-3] for f in os.listdir(PERFBENCH) if f.endswith(".py")} | {"__future__"}


def _imported(module: str, name: str):
    """The object `from module import name` binds (a submodule included)."""
    mod = importlib.import_module(module)
    return getattr(mod, name) if hasattr(mod, name) else importlib.import_module(f"{module}.{name}")


def _run_pipeline():
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", os.path.join(ROOT, "jobs", "run_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("fname", ["traced_stream.py", "batch.py", "warm_probe.py"])
def test_perfbench_names_resolve(fname):
    """Every `from X import Y` outside perfbench resolves, and so does every
    attribute read off an imported module (`core.apply_batch`) or off the
    pipeline entrypoint traced_stream loads as `rp`."""
    with open(os.path.join(PERFBENCH, fname)) as f:
        tree = ast.parse(f.read())
    bound = {"rp": _run_pipeline()}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module.split(".")[0] not in LOCAL:
            for a in node.names:
                bound[a.asname or a.name] = _imported(node.module, a.name)
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            mod = bound.get(node.value.id)
            if isinstance(mod, ModuleType):
                assert hasattr(mod, node.attr), (fname, node.value.id, node.attr)


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
