"""The benchmark's hooks into the program: perfbench wraps pipeline
functions by name for its traced pass and passes each workload's keyword
arguments to run_pipeline.  A rename or a dropped keyword would break a
traced run or a workload without failing any other test.  The bench
scripts are run by hand, so a helper they import can vanish unnoticed:
each is imported here."""

import glob
import importlib.util
import inspect
import os
import sys

import pytest

from xrenner_spark import pipeline, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(REPO, "perfbench")
BENCH_SCRIPTS = sorted(
    os.path.relpath(path, REPO)
    for pattern in ("bench.py", "scripts/bench_*.py", "scripts/ann_recall_*.py")
    for path in glob.glob(os.path.join(REPO, pattern)))


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


def _load_script(relpath, monkeypatch):
    """A bench script imported as a module, without running its main()."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    name = "bench_script_" + os.path.splitext(os.path.basename(relpath))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, relpath))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize("relpath", BENCH_SCRIPTS)
def test_bench_script_imports(relpath, monkeypatch):
    assert callable(_load_script(relpath, monkeypatch).main)


def test_host_record_has_perfbench_fields(monkeypatch):
    bench = _load_script("bench.py", monkeypatch)
    with bench.host_record() as record:
        pass
    assert set(record) == {"host", "source", "host.canary_s", "host.steal_s"}
    assert set(record["host"]) == {"nproc", "affinity_cpus", "mem_total_mb"}
    assert len(record["source"]["src_md5"]) == 32
    assert len(record["host.canary_s"]) == 2 and min(record["host.canary_s"]) > 0
    assert record["host.steal_s"] >= 0


def test_bench_exits_on_zero_triples(spark, tmp_path, monkeypatch, capsys):
    """A kg rep that writes 0 triples from a non-empty input ends bench.py
    with a non-zero status and no result line."""
    bench = _load_script("bench.py", monkeypatch)
    spark.range(3).withColumnRenamed("id", "doc_id").write.parquet(
        str(tmp_path / "documents.parquet"))
    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path))
    monkeypatch.setattr(session, "get_spark", lambda *args, **kwargs: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(pipeline, "generate_pages", lambda *args, **kwargs: None)
    monkeypatch.setattr(pipeline, "run_pipeline",
                        lambda *args, **kwargs: spark.range(0))
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code not in (None, 0)
    assert "0 triples from %d docs" % (3 * bench.DOC_MULTIPLIER) in exc.value.code
    assert capsys.readouterr().out == ""
