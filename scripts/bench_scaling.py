#!/usr/bin/env python
"""Scaling-efficiency evidence for the north rule's N->4N criterion.

Runs bench.py at local[N] and local[4N] on the SAME input (fresh JVM per
run, strictly sequential), measures the host's raw parallel-CPU ceiling
at N and 4N processes, and writes BENCH/BASELINE.md.  4N is the CPUs
this process may run on (``session.default_cores``) and N = max(1, 4N // 4),
so the window never asks for more cores than the host gives; each bench.py
run carries its own host record (md5 canary before and after, steal).

Usage: python scripts/bench_scaling.py [doc_mult]
"""

import hashlib
import io
import json
import multiprocessing
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from xrenner_spark.session import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_bench(cores: int, doc_mult: str) -> dict:
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_CPUS": str(cores), "SPARK_GRAFT_SF_DIR": SF_DIR,
                "SPARK_GRAFT_DOC_MULT": doc_mult})
    out = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                         env=env, capture_output=True, text=True, timeout=3600)
    if out.returncode:
        raise SystemExit("bench.py at local[%d] failed:\n%s" % (cores, out.stderr[-2000:]))
    line = [ln for ln in out.stdout.strip().split("\n") if ln.startswith("{")][-1]
    return json.loads(line)


def _burn(n):
    x = b"x"
    for _ in range(n):
        x = hashlib.md5(x).digest()


def cpu_ceiling(procs: int, n: int = 2_000_000) -> float:
    """Aggregate Mhash/s with `procs` concurrent burners."""
    t0 = time.perf_counter()
    with multiprocessing.Pool(procs) as pool:
        pool.map(_burn, [n] * procs)
    return procs * n / (time.perf_counter() - t0) / 1e6


def main():
    doc_mult = sys.argv[1] if len(sys.argv) > 1 else "40"
    n_big = default_cores()
    n_small = max(1, n_big // 4)
    burn = {p: cpu_ceiling(p) for p in (n_small, n_big)}
    results = {c: run_bench(c, doc_mult) for c in (n_small, n_big)}
    r_small, r_big = results[n_small], results[n_big]

    eff = r_big["docs_per_sec"] / (4.0 * r_small["docs_per_sec"])
    hw_small_big = burn[n_big] / burn[n_small]
    eff_vs_hw = (r_big["docs_per_sec"] / r_small["docs_per_sec"]) / hw_small_big

    md = io.StringIO()
    md.write("# BENCH baseline — measured\n\n")
    md.write("Host: %d advertised cpus, %d usable, Spark local mode, input %s, "
             "kg corpus = %s x documents rows (%d docs). All runs sequential "
             "and isolated (fresh JVM per config).\n\n"
             % (multiprocessing.cpu_count(), n_big, SF_DIR, doc_mult,
                r_big["kg_docs"]))
    md.write("## Hardware parallelism ceiling (raw md5 burn, no Spark)\n\n")
    md.write("| concurrent procs | aggregate Mhash/s | per-proc |\n|---|---|---|\n")
    for p, v in burn.items():
        md.write("| %d | %.1f | %.2f |\n" % (p, v, v / p))
    md.write("\nmd5 canary seconds before and after each config "
             "(bench.py's host record): %s.\n\n"
             % ", ".join("local[%d]: %s, steal %.1f s"
                         % (c, results[c]["host.canary_s"],
                            results[c]["host.steal_s"])
                         for c in (n_small, n_big)))
    md.write("## N -> 4N scaling (local[%d] -> local[%d], identical input)\n\n"
             % (n_small, n_big))
    md.write("| metric | local[%d] | local[%d] | scaling efficiency |\n|---|---|---|---|\n"
             % (n_small, n_big))
    md.write("| KG pipeline docs/sec | %.0f | %.0f | **%.2f** |\n"
             % (r_small["docs_per_sec"], r_big["docs_per_sec"], eff))
    md.write("| KG pipeline triples/sec | %.0f | %.0f | **%.2f** |\n"
             % (r_small["triples_per_sec"], r_big["triples_per_sec"],
                r_big["triples_per_sec"] / (4 * r_small["triples_per_sec"])))
    md.write("| KG pipeline wall (s) | %.1f | %.1f | |\n\n"
             % (r_small["queries"]["kg_pipeline"], r_big["queries"]["kg_pipeline"]))
    md.write("Pipeline %d->%d speedup %.2fx vs hardware ceiling %.2fx "
             "(raw md5 burn) -> **%.2f of attainable**; single/dual-process "
             "turbo inflates the small-N baseline on this host.\n\n"
             % (n_small, n_big,
                r_big["docs_per_sec"] / r_small["docs_per_sec"],
                hw_small_big, eff_vs_hw))
    md.write("## Per-query wall seconds\n\n| query | local[%d] | local[%d] |\n|---|---|---|\n"
             % (n_small, n_big))
    for name in r_big["queries"]:
        md.write("| %s | %.2f | %.2f |\n"
                 % (name, r_small["queries"][name], r_big["queries"][name]))
    md.write("\nRaw JSON:\n\n```\n")
    for c in (n_small, n_big):
        md.write("local[%d]: %s\n" % (c, json.dumps(results[c])))
    md.write("```\n")

    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    # regenerate only the generated block; PRESERVE the hand-written
    # history sections (everything from the first "## History note" or
    # any section after the raw-JSON fence) — round 4 lost them once
    preserved = ""
    if os.path.exists(out_path):
        old = io.open(out_path, encoding="utf8").read()
        raw_at = old.find("Raw JSON:")
        fence_open = old.find("\n```\n", raw_at)  # opening fence
        fence_close = old.find("\n```\n", fence_open + 4) if fence_open != -1 else -1
        if fence_close != -1:
            preserved = old[fence_close + len("\n```\n"):]
    with io.open(out_path, "w", encoding="utf8") as fh:
        fh.write(md.getvalue())
        fh.write(preserved)
    print(md.getvalue())


if __name__ == "__main__":
    main()
