"""The benchmark's hooks into the program: perfbench wraps pipeline
functions by name for its traced pass and passes each workload's keyword
arguments to run_pipeline.  A rename or a dropped keyword would break a
traced run or a workload without failing any other test."""

import importlib.util
import inspect
import os

import pytest

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


@pytest.mark.parametrize("dedup", [False, True])
def test_traced_functions_are_called_through_the_module(spark, tmp_path,
                                                        monkeypatch, dedup):
    """perfbench's traced pass wraps these functions by module attribute
    and maps Catalog.write's table names to spans: a pass that inlined a
    stage, called one by another name, or renamed a table would drop a
    span without failing the run."""
    from xrenner_spark.catalog import Catalog
    layers = _load("layers", monkeypatch)
    called, written = [], []

    def recording(name, fn):
        def wrapper(*args, **kwargs):
            called.append(name)
            return fn(*args, **kwargs)
        return wrapper

    for name in tuple(layers.PLAN_FUNCTIONS) + ("load_lex",):
        monkeypatch.setattr(pipeline, name, recording(name, getattr(pipeline, name)))
    orig_write = Catalog.write

    def recording_write(self, df, name, *args, **kwargs):
        written.append(name)
        return orig_write(self, df, name, *args, **kwargs)

    monkeypatch.setattr(Catalog, "write", recording_write)
    pipeline.run_pipeline(spark, pipeline.generate_pages(spark, 20, partitions=2),
                          str(tmp_path / "wh"), partitions=2, resume=False,
                          dedup_kernel_inputs=dedup)

    expected = set(layers.PLAN_FUNCTIONS) | {"load_lex"}
    if not dedup:
        expected.discard("dedup_kernel_stage")
    assert set(called) == expected
    assert sorted(written) == sorted(layers.PIPELINE_SPANS)
