"""Per-layer readings for the traced run.

Everything here times calls into the program's public functions from
the benchmark's side: the catalog, plan-building and model calls that
``run_pipeline`` makes are wrapped for one traced pass, and the kernel
functions are wrapped on the names ``kernel.engine`` looks them up by for
one in-process pass.  Each wrapper is removed again before the function
that installed it returns.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from typing import Dict, List

import procstat
import stats
from spans import SelfTimer, Tracer, covered

# Catalog.write table name -> span name; both lineage writes share one
PIPELINE_SPANS = {"stage_extract": "pipeline.extract",
                  "stage_kernel": "pipeline.kernel",
                  "_lineage_extract": "pipeline.lineage",
                  "_lineage_kernel": "pipeline.lineage",
                  "triples": "pipeline.triples",
                  "chains": "pipeline.chains"}
# the stage spans, with wall and CPU each, then the remaining child spans
SPAN_CPU_LAYERS = ("pipeline.extract", "pipeline.kernel", "pipeline.lineage",
                   "pipeline.triples", "pipeline.chains")
PIPELINE_LAYERS = SPAN_CPU_LAYERS + ("pipeline.read", "pipeline.plan", "pipeline.model")
# the pipeline functions run_pipeline calls to build (not run) each plan
PLAN_FUNCTIONS = ("salt_by_url", "extract_stage", "lineage_of", "kernel_stage",
                  "dedup_kernel_stage", "triples_stage", "chains_stage")
CATALOG_TABLES = ("stage_extract", "stage_kernel", "triples", "chains")
KERNEL_LAYERS = ("depedit", "read_document", "markables", "coref",
                 "postprocess", "other")


@contextlib.contextmanager
def _patched(obj, name: str, value):
    orig = getattr(obj, name)
    setattr(obj, name, value)
    try:
        yield
    finally:
        setattr(obj, name, orig)


@contextlib.contextmanager
def _cpu_span(tracer: Tracer, name: str):
    """A span that also records the tree CPU (JVM / Python) it used."""
    with tracer.span(name) as sp:
        c0 = procstat.tree_cpu()
        try:
            yield sp
        finally:
            c1 = procstat.tree_cpu()
            sp.attrs["cpu_jvm_s"] = c1["jvm"] - c0["jvm"]
            sp.attrs["cpu_py_s"] = c1["py"] - c0["py"]


def traced_pipeline(run_pipeline, spark, pages, warehouse: str, kwargs: Dict,
                    tracer: Tracer) -> Dict[str, float]:
    """One ``run_pipeline`` pass with a span around it and around each call
    it makes to ``Catalog.write``/``read``, to the pipeline functions that
    build its plans, and to load and broadcast the model; returns the
    pipeline.* metrics."""
    from xrenner_spark import pipeline
    from xrenner_spark.catalog import Catalog

    def traced(fn, span_name):
        def wrapper(*args, **kw):
            name = span_name(*args, **kw)
            with _cpu_span(tracer, name):
                return fn(*args, **kw)
        return wrapper

    sc_class = type(spark.sparkContext)
    with contextlib.ExitStack() as stack:
        for obj, attr, span_name in (
                (Catalog, "write",
                 lambda self, df, name, *a, **k: PIPELINE_SPANS.get(name, "catalog." + name)),
                (Catalog, "read", lambda *a, **k: "pipeline.read"),
                *((pipeline, fn, lambda *a, **k: "pipeline.plan") for fn in PLAN_FUNCTIONS),
                (pipeline, "load_lex", lambda *a, **k: "pipeline.model"),
                (sc_class, "broadcast", lambda *a, **k: "pipeline.model")):
            stack.enter_context(_patched(obj, attr, traced(getattr(obj, attr), span_name)))
        jit0 = procstat.tree_cpu(jit=True)["jit"]
        with _cpu_span(tracer, "pipeline.run_pipeline") as root:
            run_pipeline(spark, pages, warehouse, resume=False, **kwargs)
        jit1 = procstat.tree_cpu(jit=True)["jit"]
    root_index = tracer.spans.index(root)
    children = tracer.children(root_index)
    metrics: Dict[str, float] = {}
    for layer in PIPELINE_LAYERS:
        mine = [c for c in children if c.name == layer]
        metrics[layer + ".wall_s"] = sum(c.duration for c in mine)
        if layer in SPAN_CPU_LAYERS:
            metrics[layer + ".cpu_jvm_s"] = sum(c.attrs["cpu_jvm_s"] for c in mine)
            metrics[layer + ".cpu_py_s"] = sum(c.attrs["cpu_py_s"] for c in mine)
    metrics["pipeline.driver_self_s"] = tracer.self_time(root_index)
    metrics["pipeline.span_coverage"] = covered(
        [(c.start, c.end) for c in children]) / root.duration
    metrics["pipeline.run_pipeline.wall_s"] = root.duration
    metrics["spark.jit_cpu_s"] = jit1 - jit0
    return metrics


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def warehouse_metrics(spark, warehouse: str) -> Dict[str, float]:
    """Bytes written, per-document kernel time, task skew, output counts
    and dedup hit ratio, read from one pass's tables."""
    from pyspark.sql import functions as F
    read = lambda name: spark.read.parquet(os.path.join(warehouse, name))
    metrics = {"catalog.%s.mb" % t: _dir_mb(os.path.join(warehouse, t))
               for t in CATALOG_TABLES}

    kernel = read("stage_kernel")
    # copies of a re-crawled page share their representative's kernel_ms;
    # one row per (payload, kernel_ms) is one kernel call
    doc_ms = [r[0] for r in kernel.filter(F.col("row_type") == "d")
              .select("text_sha256", "kernel_ms").distinct()
              .select("kernel_ms").collect()]
    s = stats.summary(doc_ms)
    metrics.update({"kernel.doc_ms_p50": s["median"], "kernel.doc_ms_p99": s["p99"],
                    "kernel.doc_ms_n": s["n"], "kernel.doc_ms_n_above_p99": s["n_above_p99"],
                    "kernel.busy_s": sum(doc_ms) / 1000.0})

    part_ms = [r[0] for r in read("_lineage_kernel").select("wall_ms").collect()]
    metrics["pipeline.kernel.task_skew"] = max(part_ms) / stats.median(part_ms)

    counts = kernel.groupBy("row_type").count().collect()
    by_type = {r["row_type"]: r["count"] for r in counts}
    metrics.update({
        "out.docs": by_type.get("d", 0), "out.mentions": by_type.get("m", 0),
        "out.errors": kernel.filter((F.col("row_type") == "d")
                                    & (F.col("error") != "")).count(),
        "out.triples": read("triples").count(),
        "out.chains": read("chains").count()})

    extract = read("stage_extract")
    n, distinct = extract.agg(
        F.count("*"),
        F.countDistinct("text_sha256", F.sha2("conllu", 256))).first()
    metrics["dedup.hit_ratio"] = 1.0 - distinct / n
    return metrics


def jvm_gc_s(spark) -> float:
    """Cumulative GC time of the Spark JVM (all collectors)."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def eventlog_metrics(log_dir: str, app_id: str, t0_ms: float,
                     t1_ms: float) -> Dict[str, float]:
    """Shuffle bytes written and bytes spilled by the tasks launched in
    ``[t0_ms, t1_ms]`` (epoch ms), from the application's event log."""
    path = os.path.join(log_dir, app_id)
    shuffle = spill = 0
    tasks = 0
    with open(path) as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            launch = ev.get("Task Info", {}).get("Launch Time", 0)
            if not t0_ms <= launch <= t1_ms:
                continue
            m = ev.get("Task Metrics") or {}
            tasks += 1
            shuffle += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {"spark.tasks": tasks, "spark.shuffle_write_mb": shuffle / 1e6,
            "spark.spill_mb": spill / 1e6}


def kernel_sample(pages: List[Dict], planted: List[str], n: int) -> List[tuple]:
    """(url, html) of the first ``n`` distinct, well-formed pages."""
    skip, seen, out = set(planted), set(), []
    for p in pages:
        if p["url"] in skip or p["text"] in seen:
            continue
        seen.add(p["text"])
        out.append((p["url"], p["html"]))
        if len(out) == n:
            break
    return out


def inprocess_kernel(sample: List[tuple], lex, reps: int = 3) -> Dict[str, float]:
    """The per-document work of the kernel stage (depedit, windowed
    analysis, verb parse) over ``sample`` in this process, without Spark:
    once plain, ``reps`` times, for the per-core ceiling; then once with
    wrappers for per-layer self time and call counts."""
    from xrenner_spark import corpus, triples
    from xrenner_spark.kernel import engine, parsing

    docs = [(url, corpus.extract_conllu(html)) for url, html in sample]
    depedit = lex.depedit

    def kernel_doc(url, conllu):
        if depedit is not None:
            conllu = depedit.run(conllu)
        engine.analyze_document_windowed(url, conllu, lex, pre_rewritten=True)
        sorted(triples.parse_verbs(conllu).items())

    cpu = []
    for _ in range(reps):
        c0 = time.process_time()
        for url, conllu in docs:
            kernel_doc(url, conllu)
        cpu.append(time.process_time() - c0)

    timer = SelfTimer()
    with contextlib.ExitStack() as stack:
        for obj, name, layer in (
                (parsing, "read_document", "read_document"),
                (engine, "make_markable", "markables"),
                (engine, "analyze_markable", "markables.analyze"),
                (engine, "find_antecedent", "coref"),
                (engine, "postprocess_coref", "postprocess"),
                (triples, "parse_verbs", "triples.parse_verbs")):
            stack.enter_context(_patched(obj, name, timer.wrap(getattr(obj, name), layer)))
        if depedit is not None:
            cls = type(depedit)
            stack.enter_context(_patched(cls, "run", timer.wrap(cls.run, "depedit")))
        for url, html in sample:
            timer.enter("corpus.extract")
            corpus.extract_text(html)
            conllu = corpus.extract_conllu(html)
            timer.exit()
            timer.enter("other")
            kernel_doc(url, conllu)
            timer.exit()

    self_s = dict(timer.self_s)
    self_s["markables"] = self_s.get("markables", 0.0) + self_s.pop("markables.analyze", 0.0)
    metrics = {"kernel.%s.self_s" % k: self_s.get(k, 0.0) for k in KERNEL_LAYERS}
    metrics.update({
        "kernel.sample_docs": len(docs),
        "kernel.docs_per_cpu_s": len(docs) / stats.median(cpu),
        "kernel.coref.calls": timer.calls.get("coref", 0),
        "kernel.markables.count": timer.calls.get("markables", 0),
        "corpus.extract.self_s": self_s.get("corpus.extract", 0.0),
        "triples.parse_verbs.self_s": self_s.get("triples.parse_verbs", 0.0)})
    return metrics


def _per_layer():
    units = {"session.start_s": "s", "lex.load_s": "s", "session.first_pass_s": "s"}
    for layer in PIPELINE_LAYERS:
        for suffix in ("wall_s", "cpu_jvm_s", "cpu_py_s"):
            if suffix == "wall_s" or layer in SPAN_CPU_LAYERS:
                units["%s.%s" % (layer, suffix)] = "s"
    units.update({"pipeline.driver_self_s": "s", "pipeline.span_coverage": "ratio",
                  "pipeline.kernel.task_skew": "ratio",
                  "kernel.doc_ms_p50": "ms", "kernel.doc_ms_p99": "ms",
                  "kernel.busy_s": "s", "kernel.docs_per_cpu_s": "docs/CPU-s",
                  "kernel.ceiling_ratio": "ratio"})
    units.update({"kernel.%s.self_s" % k: "s" for k in KERNEL_LAYERS})
    units.update({"kernel.coref.calls": "count", "kernel.markables.count": "count",
                  "corpus.extract.self_s": "s", "triples.parse_verbs.self_s": "s"})
    units.update({"catalog.%s.mb" % t: "MB" for t in CATALOG_TABLES})
    units.update({"spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
                  "spark.spill_mb": "MB", "spark.peak_rss_mb": "MB",
                  "spark.jit_cpu_s": "s",
                  "dedup.hit_ratio": "ratio"})
    units.update({"out.%s" % k: "count"
                  for k in ("docs", "mentions", "triples", "chains", "errors")})
    units.update({"host.canary_s": "s", "host.steal_s": "s",
                  "trace.overhead_ratio": "ratio"})
    return units


# per_layer metrics of BENCHMARK.json, with their units
PER_LAYER = _per_layer()
