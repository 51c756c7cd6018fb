#!/usr/bin/env python3
"""Warm, layered benchmark of ``xrenner_spark.pipeline.run_pipeline``.

    python3 perfbench/run.py --workload crawl_short --seed 1 --seconds 10 --trace 0

Run from the repository root.  One run is one fresh process that

1. starts the Spark session (``session.get_spark`` on min(4, nproc)
   cores, driver heap from ``SPARK_GRAFT_DRIVER_MEM``, which this script
   sets from the host's memory) and loads the model (``lex.load_lex``);
2. builds the workload's pages from the seed, or reuses the table built
   earlier for the same (workload, seed), outside every timed region;
3. warms the JVM and the Python workers with untimed passes;
4. times full ``run_pipeline`` passes, each into a fresh warehouse, for
   at least ``--seconds`` seconds and at least three passes, checks every
   timed pass's output, and reports the median pass.

With ``--trace 1`` it then makes one traced pass (spans around the calls
``run_pipeline`` makes into the catalog, the plan-building functions and
the model load; Spark event log on) and one in-process kernel pass with
wrappers on the kernel's layers, and reports the per-layer metrics
instead of the end-to-end ones.  The last line of standard output is the
result object; the line before it is the run's full record.  Work files
go to ``.perfbench/`` in the current directory.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

WARMUP_PASSES = 2          # the cold pass and one more, untimed
MIN_TIMED_PASSES = 3
MAX_TIMED_PASSES = 8
DEADLINE_S = 130           # no timed pass starts after this (the limit is 180)
KERNEL_SAMPLE_DOCS = 160
END_TO_END = (("docs_per_s", "docs/s"), ("cpu_s_per_kdoc", "CPU-s/kdoc"),
              ("setup_s", "s"), ("error_ratio", "ratio"))


def log(msg: str):
    sys.stderr.write("[perfbench %7.2fs] %s\n"
                     % (procstat.seconds_since_process_start(), msg))
    sys.stderr.flush()


def session_settings(root: str, work: str, trace: bool) -> dict:
    """Environment and Spark settings of every session this benchmark
    starts; everything the session writes stays under ``work``."""
    cores = min(4, len(os.sched_getaffinity(0)))
    mem_gb = procstat.host_info()["mem_total_mb"] / 1024.0
    heap = "%dg" % max(1, min(4, int(mem_gb // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {"PYTHONPATH": root + os.pathsep + os.environ.get("PYTHONPATH", ""),
           "SPARK_GRAFT_DRIVER_MEM": heap,
           "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
           "TMPDIR": tmp}
    conf = {"spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=%s -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads" % tmp,
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return {"cores": cores, "driver_mem": heap, "env": env, "conf": conf}


def start_session(settings: dict):
    """Session and model; returns them with the set-up timings, measured
    from this process's start."""
    os.environ.update(settings["env"])
    tempfile.tempdir = settings["env"]["TMPDIR"]
    t_import = procstat.seconds_since_process_start()
    from xrenner_spark.lex import load_lex
    from xrenner_spark.session import get_spark
    t0 = procstat.seconds_since_process_start()
    spark = get_spark("perfbench", cores=settings["cores"],
                      extra_conf=settings["conf"])
    t1 = procstat.seconds_since_process_start()
    lex = load_lex()
    t2 = procstat.seconds_since_process_start()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, lex, {"setup_s": t2, "import_s": t0 - t_import,
                        "session.start_s": t1 - t0, "lex.load_s": t2 - t1}


def stop_session(spark):
    """Stop Spark and its JVM, then wait until every process this one
    started (the JVM, the Python daemon and its workers) has ended."""
    me = os.getpid()
    started = [pid for pid, _ in procstat.tree_pids(me) if pid != me]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    alive = lambda: [pid for pid in started if os.path.exists("/proc/%d" % pid)]
    deadline = time.time() + 30
    while alive() and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def source_id(root: str) -> dict:
    """Git sha when the tree is a git checkout, and always an md5 of the
    program's Python sources, so records of one tree can be matched."""
    h = hashlib.md5()
    pkg = os.path.join(root, "xrenner_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                                 capture_output=True, text=True,
                                 timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            sha = None
    return {"git_sha": sha, "src_md5": h.hexdigest()}


def run_pass(run_pipeline, spark, pages, warehouse: str, kwargs: dict) -> dict:
    shutil.rmtree(warehouse, ignore_errors=True)
    c0, (s0, n_cpus) = procstat.tree_cpu(jit=True), procstat.steal()
    t0 = time.perf_counter()
    run_pipeline(spark, pages, warehouse, resume=False, **kwargs)
    wall = time.perf_counter() - t0
    c1, (s1, _) = procstat.tree_cpu(jit=True), procstat.steal()
    cpu = {"cpu_%s_s" % k: c1[k] - c0[k] for k in ("total", "jvm", "py", "jit")}
    # wall minus the hypervisor's steal, per CPU of this machine
    return dict(cpu, wall_s=wall, steal_s=s1 - s0,
                unstolen_wall_s=wall - (s1 - s0) / n_cpus)


def first_pass_within_spread(walls) -> bool:
    """No warm-up trend: the first timed pass is slower than the median by
    no more than the largest deviation among the other timed passes."""
    med = stats.median(walls)
    return walls[0] - med <= max(abs(w - med) for w in walls[1:])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=workloads.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "xrenner_spark", "pipeline.py")):
        sys.stderr.write("perfbench: no xrenner_spark package under %s; run "
                         "from the repository root\n" % root)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    settings = session_settings(root, work, bool(args.trace))

    spark, lex, setup = start_session(settings)
    from xrenner_spark.pipeline import run_pipeline
    log("session ready in %.2fs" % setup["setup_s"])
    run_id = "%s-s%d-t%d-%d" % (args.workload, args.seed, args.trace, os.getpid())
    wh_root = os.path.join(work, "wh", run_id)
    kwargs = workloads.RUN_KWARGS[args.workload]

    table, meta = workloads.cached_pages(args.workload, args.seed,
                                         os.path.join(work, "pages"))
    pages = spark.read.parquet(table)
    n_pages = meta["pages"]
    log("%d pages (%d sentences, %d planted malformed)"
        % (n_pages, meta["sentences"], len(meta["planted"])))

    canary_before = procstat.canary_s()
    warm = []
    for i in range(WARMUP_PASSES):
        warm.append(run_pass(run_pipeline, spark, pages,
                             os.path.join(wh_root, "warm"), kwargs))
        log("warm-up pass %d: %.2fs" % (i, warm[-1]["wall_s"]))

    timed, problems, whs = [], [], []
    attempted = failed = 0
    while len(timed) < MAX_TIMED_PASSES and (
            len(timed) < MIN_TIMED_PASSES
            or (sum(p["wall_s"] for p in timed) < args.seconds
                and procstat.seconds_since_process_start() < DEADLINE_S)):
        wh = os.path.join(wh_root, "p%d" % len(timed))
        attempted += n_pages
        try:
            p = run_pass(run_pipeline, spark, pages, wh, kwargs)
        except Exception as exc:  # a pass that raises fails all its pages
            problems.append("pass %d raised %r" % (len(timed), exc))
            failed += n_pages
            break
        timed.append(p)
        whs.append(wh)
        log("timed pass %d: %.2fs, %.1f CPU-s (%.1f JIT)"
            % (len(timed) - 1, p["wall_s"], p["cpu_total_s"], p["cpu_jit_s"]))
    canary_after = procstat.canary_s()
    found, facts = checks.check_passes(spark, whs, meta)
    problems += found
    for p, f in zip(timed, facts):
        p.update(f)
        failed += f["unplanted_errors"]
    digests = sorted({(f["triples_digest"], f["chains_digest"]) for f in facts})
    steal_s = sum(p["steal_s"] for p in timed)
    rss = procstat.peak_rss_mb()

    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "host": dict(procstat.host_info(), cores=settings["cores"],
                     driver_mem=settings["driver_mem"]),
        "source": source_id(root),
        "input": {k: meta[k] for k in ("pages", "sentences", "doc_id_base")},
        "planted_malformed": len(meta["planted"]),
        "setup": setup, "warmup_passes": warm, "timed_passes": timed,
        "host.canary_s": [canary_before, canary_after],
        "host.steal_s": steal_s, "peak_rss_mb": rss,
        "digests": digests, "problems": problems,
    }
    if timed:
        walls = [p["wall_s"] for p in timed]
        record["first_timed_pass_within_spread"] = (
            len(walls) < 2 or first_pass_within_spread(walls))

    if args.trace and timed:
        metrics = traced_metrics(spark, lex, run_pipeline, pages, meta, kwargs,
                                 os.path.join(wh_root, "traced"), record)
    stop_session(spark)
    if args.trace and timed:
        import layers
        evdir = os.path.join(work, "eventlog")
        metrics.update(layers.eventlog_metrics(evdir, record["app_id"],
                                               *record["traced_window_ms"]))
        shutil.rmtree(evdir, ignore_errors=True)
        record["layer_extras"] = {k: v for k, v in metrics.items()
                                  if k not in layers.PER_LAYER}
        metrics = {k: {"value": metrics[k], "unit": u}
                   for k, u in layers.PER_LAYER.items()}
    elif not args.trace:
        metrics = {"setup_s": setup["setup_s"]}
        if timed:
            metrics.update({
                "docs_per_s": n_pages / stats.median(
                    [p["unstolen_wall_s"] for p in timed]),
                "cpu_s_per_kdoc": stats.median(
                    [p["cpu_total_s"] / n_pages * 1000.0 for p in timed]),
                "error_ratio": sum(p["errors"] for p in timed)
                / float(n_pages * len(timed)),
            })
        units = dict(END_TO_END)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        metrics = {}
    shutil.rmtree(wh_root, ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    record["metrics"] = metrics
    record["sample_count"] = len(timed)
    os.makedirs(os.path.join(work, "records"), exist_ok=True)
    with open(os.path.join(work, "records", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for p in problems:
        log("CHECK FAILED: " + p)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": not problems and bool(timed),
                      "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def traced_metrics(spark, lex, run_pipeline, pages, meta, kwargs, wh,
                   record) -> dict:
    """Per-layer metrics: one traced pass into ``wh``, its tables, the
    JVM's GC, and one in-process kernel pass.  Adds the spans and the
    traced window to ``record``."""
    import layers
    from spans import Tracer
    setup = record["setup"]
    metrics = {"session.start_s": setup["session.start_s"],
               "lex.load_s": setup["lex.load_s"],
               "session.first_pass_s": record["warmup_passes"][0]["wall_s"]}
    tracer = Tracer(record["run_id"])
    gc0 = layers.jvm_gc_s(spark)
    t0_ms = time.time() * 1000.0
    metrics.update(layers.traced_pipeline(run_pipeline, spark, pages, wh,
                                          kwargs, tracer))
    t1_ms = time.time() * 1000.0
    metrics["spark.gc_s"] = layers.jvm_gc_s(spark) - gc0
    record["app_id"] = spark.sparkContext.applicationId
    record["traced_window_ms"] = [t0_ms, t1_ms]
    record["spans"] = tracer.as_dicts()
    untraced = stats.median([p["wall_s"] for p in record["timed_passes"]])
    metrics["trace.overhead_ratio"] = metrics["pipeline.run_pipeline.wall_s"] / untraced
    metrics.update(layers.warehouse_metrics(spark, wh))

    pages_list, _ = workloads.make_pages(meta["workload"], meta["seed"])
    sample = layers.kernel_sample(pages_list, meta["planted"], KERNEL_SAMPLE_DOCS)
    metrics.update(layers.inprocess_kernel(sample, lex))
    docs_per_s = meta["pages"] / stats.median(
        [p["unstolen_wall_s"] for p in record["timed_passes"]])
    metrics["kernel.ceiling_ratio"] = docs_per_s / (
        metrics["kernel.docs_per_cpu_s"] * record["host"]["cores"])
    metrics["spark.peak_rss_mb"] = record["peak_rss_mb"]["total"]
    metrics["host.canary_s"] = stats.median(record["host.canary_s"])
    metrics["host.steal_s"] = record["host.steal_s"]
    log("traced pass %.2fs vs untraced median %.2fs (overhead x%.3f), "
        "span coverage %.3f" % (metrics["pipeline.run_pipeline.wall_s"], untraced,
                                metrics["trace.overhead_ratio"],
                                metrics["pipeline.span_coverage"]))
    return metrics


if __name__ == "__main__":
    sys.exit(main())
