"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import SelfTimer, Span, Tracer, covered, self_time  # noqa: E402


# -- /proc tree CPU ----------------------------------------------------

def test_tree_cpu_counts_an_exited_and_reaped_child():
    before = procstat.tree_cpu()
    own_before = time.process_time()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)  # waits: reaped
    after = procstat.tree_cpu()
    own = time.process_time() - own_before
    # the child is gone from /proc; its CPU shows through our cstime/cutime
    assert after["total"] - before["total"] - own >= 0.5
    assert after["py"] - before["py"] >= 0.5
    assert after["jvm"] == before["jvm"]


def test_tree_cpu_counts_a_live_child():
    code = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\ntime.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.time() + 10
        while time.time() < deadline:
            pids = [pid for pid, _ in procstat.tree_pids(os.getpid())]
            if child.pid in pids and procstat._read_stat(child.pid)[2] >= 0.35:
                break
            time.sleep(0.05)
        assert child.pid in [pid for pid, _ in procstat.tree_pids(os.getpid())]
        assert procstat.tree_cpu()["py"] >= 0.35
    finally:
        child.kill()
        child.wait()


def test_steal_reads_the_machine_total_and_its_cpus():
    total, n_cpus = procstat.steal()
    assert total >= 0.0
    assert n_cpus >= len(os.sched_getaffinity(0))


# -- spans ---------------------------------------------------------------

def _span(start, end, parent=None):
    sp = Span("s", start, parent, "r")
    sp.end = end
    return sp


def test_self_time_subtracts_the_union_of_clipped_children():
    parent = _span(0.0, 10.0)
    children = [_span(1.0, 3.0), _span(2.0, 5.0),   # overlap counted once
                _span(9.0, 12.0)]                   # clipped at the parent's end
    assert covered([(1.0, 3.0), (2.0, 5.0), (9.0, 10.0)]) == pytest.approx(5.0)
    assert self_time(parent, children) == pytest.approx(5.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_computes_self_time():
    ticks = iter([0.0, 1.0, 3.0, 4.0, 7.0, 10.0])
    tracer = Tracer("run-1", clock=lambda: next(ticks))
    with tracer.span("root"):
        with tracer.span("a"):
            pass
        with tracer.span("b"):
            pass
    root, a, b = tracer.spans
    assert (a.parent, b.parent, root.parent) == (0, 0, None)
    assert [s.run_id for s in tracer.spans] == ["run-1"] * 3
    assert (root.duration, a.duration, b.duration) == (10.0, 2.0, 3.0)
    assert tracer.self_time(0) == pytest.approx(5.0)
    assert tracer.as_dicts()[1] == {"name": "a", "start": 1.0, "end": 3.0,
                                    "parent": 0, "run_id": "run-1"}


def test_self_timer_charges_nested_calls_to_the_callee():
    now = [0.0]
    timer = SelfTimer(clock=lambda: now[0])

    def inner():
        now[0] += 2.0

    wrapped_inner = timer.wrap(inner, "inner")

    def outer():
        now[0] += 1.0
        wrapped_inner()
        wrapped_inner()
        now[0] += 0.5

    timer.wrap(outer, "outer")()
    assert timer.self_s == {"inner": pytest.approx(4.0), "outer": pytest.approx(1.5)}
    assert timer.calls == {"inner": 2, "outer": 1}


# -- statistics ----------------------------------------------------------

def test_median_and_percentile_with_sample_count():
    values = list(range(1, 101))
    s = stats.summary(values)
    assert s["n"] == 100
    assert s["median"] == 50.5
    assert s["p99"] == 99           # nearest rank
    assert s["n_above_p99"] == 1
    assert stats.percentile([5.0], 99) == 5.0
    assert stats.percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        stats.median([])
    with pytest.raises(ValueError):
        stats.percentile([1, 2], 0)


def test_first_pass_within_spread():
    assert run.first_pass_within_spread([4.4, 4.3, 4.5])
    assert run.first_pass_within_spread([4.0, 4.5, 4.5])   # faster is no trend
    assert not run.first_pass_within_spread([5.2, 4.4, 4.5, 4.3])


# -- generated inputs ------------------------------------------------------

@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_generator_is_deterministic_and_seeded(workload):
    pages_a, meta_a = workloads.make_pages(workload, 3)
    pages_b, meta_b = workloads.make_pages(workload, 3)
    pages_c, meta_c = workloads.make_pages(workload, 4)
    assert pages_a == pages_b and meta_a == meta_b
    assert not {p["url"] for p in pages_a} & {p["url"] for p in pages_c}
    assert not {p["html"] for p in pages_a} & {p["html"] for p in pages_c}
    assert meta_a["doc_id_base"] != meta_c["doc_id_base"]
    assert meta_a["planted"] != meta_c["planted"]
    # a fixed input size and planted count, so error_ratio is a constant
    assert meta_a["pages"] == meta_c["pages"]
    assert len(meta_a["planted"]) == len(meta_c["planted"])


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_pages_keep_the_extraction_invariant(workload):
    from xrenner_spark.corpus import extract_conllu, extract_text
    pages, meta = workloads.make_pages(workload, 5)
    assert len(pages) == meta["pages"] == len({p["url"] for p in pages})
    for p in pages:
        assert extract_text(p["html"]) == p["text"]
        assert extract_conllu(p["html"])


def test_planted_pages_fail_in_the_kernel_and_others_do_not():
    from xrenner_spark.corpus import extract_conllu
    from xrenner_spark.kernel import analyze_document_windowed
    from xrenner_spark.lex import load_lex
    lex = load_lex()
    pages, meta = workloads.make_pages("crawl_short", 6)
    planted = set(meta["planted"])

    def analyze(page):
        conllu = extract_conllu(page["html"])
        if lex.depedit is not None:
            conllu = lex.depedit.run(conllu)
        analyze_document_windowed(page["url"], conllu, lex, pre_rewritten=True)

    for page in pages[:40] + [p for p in pages if p["url"] in planted]:
        if page["url"] in planted:
            with pytest.raises(Exception):
                analyze(page)
        else:
            analyze(page)


def test_recrawl_groups_share_one_payload():
    pages, meta = workloads.make_pages("recrawl_dupes", 7)
    by_url = {p["url"]: p for p in pages}
    assert sum(len(g) for g in meta["groups"]) + len(meta["planted"]) == len(pages)
    for group in meta["groups"]:
        assert len(group) >= 2
        assert len({by_url[u]["html"] for u in group}) == 1
        assert len({by_url[u]["warc_ts"] for u in group}) == len(group)


def test_cached_pages_are_written_once(tmp_path):
    import pyarrow.parquet as pq
    path, meta = workloads.cached_pages("crawl_short", 8, str(tmp_path))
    mtime = os.path.getmtime(path)
    path2, meta2 = workloads.cached_pages("crawl_short", 8, str(tmp_path))
    assert (path2, meta2) == (path, meta) and os.path.getmtime(path) == mtime
    table = pq.read_table(path)
    assert table.num_rows == meta["pages"]
    assert str(table.schema.field("warc_ts").type) == "timestamp[us, tz=UTC]"


# -- the benchmark definition -------------------------------------------------

def test_benchmark_json_matches_the_metrics_the_script_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == dict(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
