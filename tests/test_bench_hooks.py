"""The benchmark's hooks into the program: perfbench wraps pipeline
functions by name for its traced pass and passes each workload's keyword
arguments to run_pipeline.  A rename or a dropped keyword would break a
traced run or a workload without failing any other test."""

import importlib.util
import inspect
import os

from xrenner_spark import pipeline

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench")


def _load(name, monkeypatch):
    """A perfbench module, imported from its file (its own imports resolve
    against the perfbench directory)."""
    monkeypatch.syspath_prepend(PERFBENCH)
    spec = importlib.util.spec_from_file_location(
        "perfbench_" + name, os.path.join(PERFBENCH, name + ".py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_wrapped_plan_functions_exist(monkeypatch):
    layers = _load("layers", monkeypatch)
    for name in tuple(layers.PLAN_FUNCTIONS) + ("load_lex",):
        assert callable(getattr(pipeline, name, None)), name


def test_workload_kwargs_bind_to_run_pipeline(monkeypatch):
    workloads = _load("workloads", monkeypatch)
    signature = inspect.signature(pipeline.run_pipeline)
    assert workloads.RUN_KWARGS
    for name, kwargs in workloads.RUN_KWARGS.items():
        signature.bind(None, None, "warehouse", **kwargs)  # TypeError if not
