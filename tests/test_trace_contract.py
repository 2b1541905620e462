"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps
engine functions by module and attribute name; a rename must fail here
rather than silently drop a layer from the trace."""

from __future__ import annotations

import importlib

from perfbench.trace import WRAPPED


def test_wrapped_engine_functions_resolve():
    for mod, attr, _span in WRAPPED:
        assert callable(getattr(importlib.import_module(mod), attr, None)), f"{mod}.{attr}"


def test_script_runner_execute_exists():
    from daisy_spark.plans.script import ScriptRunner

    assert callable(getattr(ScriptRunner, "execute", None))
