"""End-to-end Spark pipeline tests: the written triples must agree with
the plain-Python extractor, the byte-identity invariant must hold on
every row, and a killed/rerun job must resume from checkpoints."""

import os
import re
import shutil

import pytest

from xrenner_spark import load_lex
from xrenner_spark.catalog import Catalog
from xrenner_spark.corpus import build_document
from xrenner_spark.kernel import analyze_document
from xrenner_spark.pipeline import (docs_view, extract_stage, generate_pages,
                                    kernel_stage, run_pipeline)
from xrenner_spark.triples import extract_triples, parse_verbs

N_DOCS = 40


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    pages = generate_pages(spark, N_DOCS, partitions=4)
    run_pipeline(spark, pages, wh, partitions=4)
    return wh


def test_byte_identity_invariant(spark, warehouse):
    cat = Catalog(spark, warehouse)
    extracted = cat.read("stage_extract")
    bad = extracted.filter(~extracted.byte_identical).count()
    assert bad == 0
    lineage = cat.lineage("extract")
    assert lineage.selectExpr("sum(invariant_violations)").first()[0] == 0


def test_kernel_stage_clean(spark, warehouse):
    from xrenner_spark.pipeline import docs_view
    cat = Catalog(spark, warehouse)
    docs = docs_view(cat.read("stage_kernel"))
    assert docs.count() == N_DOCS
    assert docs.filter(docs.error != "").count() == 0


def test_sql_triples_match_python_extractor(spark, warehouse):
    """The written triples (the kernel loop's rows, filtered) are exactly
    the triples the sequential extractor computes per document."""
    cat = Catalog(spark, warehouse)
    rows = cat.read("triples").collect()
    spark_keys = {(r.url, r.subj, r.pred, r.obj, r.sent_num) for r in rows}

    lex = load_lex()
    py_keys = set()
    kernel_urls = {r.url for r in cat.read("stage_kernel").select("url").collect()}
    url_by_doc = {}
    for doc_id in range(N_DOCS):
        from xrenner_spark.corpus import build_page
        url_by_doc[doc_id] = build_page(doc_id)["url"]
    assert set(url_by_doc.values()) == kernel_urls
    for doc_id, url in url_by_doc.items():
        conllu = build_document(doc_id)["conllu"]
        result = analyze_document(url, conllu, lex)
        for t in extract_triples(result.mentions, parse_verbs(conllu)):
            py_keys.add((url, t["subj"], t["pred"], t["obj"], t["sent_num"]))
    assert spark_keys == py_keys


def _table_rows(cat, name):
    """Every column of every row, in a fixed order; array cells sorted,
    since ``collect_list`` order (chains.mention_ids) is not fixed."""
    return sorted((tuple(sorted(v) if isinstance(v, list) else v for v in r)
                   for r in cat.read(name).collect()), key=repr)


_REPLAYED = ("triples", "chains", "_lineage_extract", "_lineage_kernel")


def _kill_and_replay(spark, warehouse, lost):
    cat = Catalog(spark, warehouse)
    before = {t: _table_rows(cat, t) for t in _REPLAYED}
    assert all(before.values())
    success = lambda t: os.path.join(warehouse, t, "_SUCCESS")
    stage_mtimes = lambda: [os.path.getmtime(success(t))
                            for t in ("stage_extract", "stage_kernel")]
    stages_before = stage_mtimes()
    chains_mtime = os.path.getmtime(success("chains"))
    for table in lost:
        shutil.rmtree(os.path.join(warehouse, table))

    # pages input deliberately wrong — if resume touched stage 1/2 it would
    # produce different rows; resume must read checkpoints instead
    bogus_pages = generate_pages(spark, 5, partitions=2)
    run_pipeline(spark, bogus_pages, warehouse, partitions=4)

    assert {t: _table_rows(cat, t) for t in _REPLAYED} == before
    assert stage_mtimes() == stages_before
    if "chains" not in lost:  # an existing chains table is reused
        assert os.path.getmtime(success("chains")) == chains_mtime


def test_resume_from_checkpoint(spark, warehouse):
    """Kill-and-rerun after a crash between the chains and triples
    writes: with stage checkpoints present, a second run must not
    recompute them, must reuse chains and must return identical
    triples."""
    _kill_and_replay(spark, warehouse, lost=("triples",))


def test_resume_after_losing_triples_and_chains(spark, warehouse):
    """A crash right after the kernel checkpoint: the rerun rebuilds
    exactly the clean run's chains and triples from the checkpoints."""
    _kill_and_replay(spark, warehouse, lost=("triples", "chains"))


def test_resume_after_losing_lineage(spark, warehouse):
    """A crash between a stage checkpoint and its lineage write: the
    rerun rebuilds both lineage tables exactly from the checkpoints
    (lineage is a pure function of them) without recomputing a stage."""
    _kill_and_replay(spark, warehouse,
                     lost=("_lineage_extract", "_lineage_kernel"))


def test_run_pipeline_kernel_matches_fused_stage(spark, corrupt_pages, tmp_path):
    """run_pipeline's checkpointed kernel output and kernel_stage over
    extract_stage are one code path: row-exact equal (modulo the nondeterministic
    part_id/kernel_ms columns) on generated pages plus corrupt ones."""
    pages, bad_urls = corrupt_pages(n=120, partitions=4)
    pages = pages.persist()
    run_pipeline(spark, pages, str(tmp_path / "wh"), partitions=4)
    staged = Catalog(spark, str(tmp_path / "wh")).read("stage_kernel")
    fused = kernel_stage(extract_stage(pages), spark.sparkContext.broadcast(load_lex()))
    a = staged.drop("part_id", "kernel_ms")
    b = fused.drop("part_id", "kernel_ms")
    assert a.schema == b.schema
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    errors = {r.url for r in docs_view(staged).collect() if r.error != ""}
    assert errors == bad_urls
    pages.unpersist()


def _plan_nodes(plan):
    """Node names of a (logical or physical) plan, depth first; an
    adaptive plan contributes its initial plan, exchanges included."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _plan_nodes(plan.initialPlan())
    children = plan.children()
    return [plan.nodeName()] + [name for i in range(children.size())
                                for name in _plan_nodes(children.apply(i))]


def _python_nodes(df):
    """Names of the Python-evaluating nodes in ``df``'s optimized plan."""
    return [name for name in _plan_nodes(df._jdf.queryExecution().optimizedPlan())
            if re.search("Pandas|Arrow|Python", name)]


def test_sinks_have_one_python_position(spark, corrupt_pages, tmp_path, monkeypatch):
    """Never chain two Python positions: every sink plans SQL extraction
    plus exactly one mapInArrow, and run_pipeline's kernel has no
    mapInPandas."""
    from xrenner_spark.pipeline import serialize_stage, training_dump_stage
    pages, _ = corrupt_pages()
    bcast = spark.sparkContext.broadcast(load_lex())
    for sink in (kernel_stage(extract_stage(pages), bcast),
                 serialize_stage(pages, bcast, formats=("sgml",)),
                 training_dump_stage(pages, bcast)):
        assert _python_nodes(sink) == ["MapInArrow"]

    written = {}
    orig_write = Catalog.write

    def recording_write(self, df, name, *args, **kwargs):
        written[name] = _python_nodes(df)
        return orig_write(self, df, name, *args, **kwargs)

    monkeypatch.setattr(Catalog, "write", recording_write)
    run_pipeline(spark, pages, str(tmp_path / "wh"), partitions=4)
    assert written["stage_extract"] == []
    assert written["stage_kernel"] == ["MapInArrow"]


def test_dedup_kernel_inputs(spark, tmp_path):
    """dedup_kernel_inputs=True: kernel rows equal the plain path's for
    every copy in every column but part_id and kernel_ms, triples
    identical, and the kernel demonstrably ran once per distinct payload
    (copies share its exact kernel_ms)."""
    from pyspark.sql import functions as F
    from xrenner_spark.pipeline import docs_view

    pages = generate_pages(spark, 10, partitions=2)
    tiled = None
    for k in range(3):  # 3 copies of each payload under distinct urls
        c = pages.withColumn("url", F.concat(F.lit("copy%d-" % k), F.col("url")))
        tiled = c if tiled is None else tiled.union(c)

    wh_plain = str(tmp_path / "wh_plain")
    wh_dedup = str(tmp_path / "wh_dedup")
    t_plain = run_pipeline(spark, tiled, wh_plain, partitions=4)
    t_dedup = run_pipeline(spark, tiled, wh_dedup, partitions=4,
                           dedup_kernel_inputs=True)

    def triple_keys(df):
        return sorted((r.url, r.subj, r.pred, r.obj, r.sent_num)
                      for r in df.collect())

    assert triple_keys(t_plain) == triple_keys(t_dedup)

    cat_plain, cat_dedup = Catalog(spark, wh_plain), Catalog(spark, wh_dedup)
    kp, kd = cat_plain.read("stage_kernel"), cat_dedup.read("stage_kernel")
    assert kp.schema == kd.schema
    cols = [c for c in kp.columns if c not in ("part_id", "kernel_ms")]
    rows_p = sorted(map(tuple, kp.select(cols).collect()))
    rows_d = sorted(map(tuple, kd.select(cols).collect()))
    assert rows_p == rows_d

    docs = docs_view(kd)
    assert docs.count() == 30
    # one kernel execution per distinct payload: the 3 copies carry its
    # exact timing value
    assert docs.select("text_sha256", "kernel_ms").distinct().count() == 10
    assert docs_view(kp).select("text_sha256", "kernel_ms").distinct().count() == 30


def test_dedup_kernel_inputs_byte_identity_per_copy(spark, tmp_path):
    """A copy whose text column disagrees with its html shares the
    intact page's extracted payload but fails byte-identity: with
    dedup_kernel_inputs it must not share the intact copies' analysis
    (it sorts before them), nor inherit their result."""
    import pandas as pd
    from xrenner_spark.corpus import build_page
    from xrenner_spark.pipeline import PAGES_SCHEMA

    rows = [build_page(i) for i in range(3)]
    rows.append(dict(rows[1], url="https://a.example/violating-copy",
                     text=rows[1]["text"] + " edited"))
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)
    wh = str(tmp_path / "wh")
    run_pipeline(spark, pages, wh, partitions=2, dedup_kernel_inputs=True)
    kernel = Catalog(spark, wh).read("stage_kernel")
    errors = {r.url: r.error for r in docs_view(kernel).collect()}
    assert "byte-identity violation" in errors.pop(rows[3]["url"])
    assert set(errors.values()) == {""}
    mention_urls = {r.url for r in kernel.filter(kernel.row_type == "m").collect()}
    assert mention_urls == {r["url"] for r in rows[:3]}


def test_dedup_kernel_stage_plans_over_extract_stage(spark, corrupt_pages):
    """dedup_kernel_stage composed directly on extract_stage (no
    checkpoint read in between) plans and runs, and gives the plain
    kernel's rows except part_id and kernel_ms: each failing page's
    error names its own url."""
    from pyspark.sql import functions as F
    from xrenner_spark.pipeline import dedup_kernel_stage
    pages, bad_urls = corrupt_pages(n=60, partitions=4)
    copies = (pages.filter(F.xxhash64("url") % 4 == 0)
              .withColumn("url", F.concat(F.lit("copy-"), "url")))
    pages = pages.union(copies).persist()
    bcast = spark.sparkContext.broadcast(load_lex())
    extracted = extract_stage(pages)
    plain = kernel_stage(extracted, bcast)
    dedup = dedup_kernel_stage(extracted, bcast)
    a = plain.drop("part_id", "kernel_ms")
    b = dedup.drop("part_id", "kernel_ms")
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    errors = docs_view(dedup).filter("error != ''").collect()
    assert {r.url for r in errors} >= bad_urls
    pages.unpersist()


def test_dedup_kernel_inputs_giant_doc(spark, tmp_path):
    """Interaction pin: kernel-input dedup x giant-doc windowing.  A
    >500-sentence page (the pipeline windows it) tiled under two urls
    must produce identical triples in plain and dedup modes — the
    windowed analysis is a pure function of the payload, so the second
    copy reuses the first's exactly."""
    import pandas as pd
    from pyspark.sql import functions as F
    from xrenner_spark.corpus import (_HTML_HEAD, _HTML_MID, _HTML_TAIL,
                                      build_document)
    from xrenner_spark.pipeline import docs_view

    parts = [build_document(i) for i in range(100)]
    text = "\n".join(p["text"] for p in parts)
    conllu = "\n\n".join(p["conllu"] for p in parts)
    html = ((_HTML_HEAD % 0) + text + _HTML_MID + conllu + _HTML_TAIL).encode("utf8")
    rows = [{"url": "https://g.example/copy%d" % k,
             "warc_ts": pd.Timestamp("2024-01-01"),
             "html": html, "text": text, "lang": "en"} for k in range(2)]
    pages = spark.createDataFrame(pd.DataFrame(rows))

    t_plain = run_pipeline(spark, pages, str(tmp_path / "wp"), partitions=2)
    t_dedup = run_pipeline(spark, pages, str(tmp_path / "wd"), partitions=2,
                           dedup_kernel_inputs=True)
    keys = lambda df: sorted((r.url, r.subj, r.pred, r.obj, r.sent_num)
                             for r in df.collect())
    kp, kd = keys(t_plain), keys(t_dedup)
    assert kp == kd and len(kp) > 0

    docs = docs_view(Catalog(spark, str(tmp_path / "wd")).read("stage_kernel"))
    rec = docs.select("n_sentences", "kernel_ms").distinct().collect()
    assert len(rec) == 1          # one kernel execution, both copies
    assert rec[0].n_sentences > 500  # the windowed path actually ran


def _record_plans(monkeypatch):
    """A dict that each Catalog.write fills with its table's executed
    plan node names."""
    written = {}
    orig_write = Catalog.write

    def recording_write(self, df, name, *args, **kwargs):
        written[name] = _plan_nodes(df._jdf.queryExecution().executedPlan())
        return orig_write(self, df, name, *args, **kwargs)

    monkeypatch.setattr(Catalog, "write", recording_write)
    return written


def test_chains_and_triples_writes_are_filters(spark, warehouse, monkeypatch):
    """Stage 3 has no shuffle: the chains and triples run_pipeline writes
    are filters of the kernel checkpoint, with no Exchange and no join in
    their executed plans."""
    written = _record_plans(monkeypatch)
    for table in ("triples", "chains"):
        shutil.rmtree(os.path.join(warehouse, table))
    run_pipeline(spark, generate_pages(spark, 5, partitions=2), warehouse,
                 partitions=4)

    assert sorted(written) == ["chains", "triples"]
    for nodes in written.values():
        assert "Scan parquet " in nodes and "Filter" in nodes, nodes
        assert not [n for n in nodes if "Exchange" in n or "Join" in n], nodes


def _jobs_per_write(spark, tmp_path, monkeypatch, **kwargs):
    """Spark jobs per table of one run_pipeline pass over 20 pages, plus
    those run ``outside`` a Catalog.write: each write runs under a job
    group of its table's name."""
    sc = spark.sparkContext
    prefix = "jobs-%s/" % tmp_path.name
    orig_write = Catalog.write

    def grouped_write(self, df, name, *args, **kw):
        sc.setJobGroup(prefix + name, name)
        try:
            return orig_write(self, df, name, *args, **kw)
        finally:
            sc.setJobGroup(prefix + "outside", "outside")

    monkeypatch.setattr(Catalog, "write", grouped_write)
    sc.setJobGroup(prefix + "outside", "outside")
    try:
        run_pipeline(spark, generate_pages(spark, 20, partitions=2),
                     str(tmp_path / "wh"), partitions=4, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return {name: len(tracker.getJobIdsForGroup(prefix + name))
            for name in ("outside", "stage_extract", "_lineage_extract",
                         "stage_kernel", "_lineage_kernel", "chains", "triples")}


def test_pass_runs_nine_jobs(spark, tmp_path, monkeypatch):
    """A plain run_pipeline pass runs 9 Spark jobs, one each for the
    chains and triples writes, and none outside a Catalog.write."""
    jobs = _jobs_per_write(spark, tmp_path, monkeypatch)
    assert jobs["outside"] == 0
    assert jobs["chains"] == jobs["triples"] == 1
    assert sum(jobs.values()) == 9, jobs


def test_dedup_pass_runs_ten_jobs(spark, tmp_path, monkeypatch):
    """A dedup_kernel_inputs pass adds one job, the input-order shuffle's,
    to the stage_kernel write: 2 jobs there and 10 in all."""
    jobs = _jobs_per_write(spark, tmp_path, monkeypatch, dedup_kernel_inputs=True)
    assert jobs["outside"] == 0
    assert jobs["stage_kernel"] == 2, jobs
    assert sum(jobs.values()) == 10, jobs


def test_dedup_kernel_write_has_one_exchange(spark, tmp_path, monkeypatch):
    """The dedup stage_kernel write is one shuffle of the extract rows
    into the kernel: exactly one Exchange and no join in its plan."""
    written = _record_plans(monkeypatch)
    run_pipeline(spark, generate_pages(spark, 5, partitions=2),
                 str(tmp_path / "wh"), partitions=4, dedup_kernel_inputs=True)
    nodes = written["stage_kernel"]
    assert "MapInArrow" in nodes, nodes
    assert len([n for n in nodes if "Exchange" in n]) == 1, nodes
    assert not [n for n in nodes if "Join" in n], nodes


def test_dedup_kernel_runs_one_task_per_core(spark, tmp_path):
    """The dedup kernel's input is spread over one task per core, not
    coalesced into one: 120 pages and 20 copies give one _lineage_kernel
    row per core, each with documents, and every page's doc row."""
    from pyspark.sql import functions as F
    pages = generate_pages(spark, 120, partitions=4)
    copies = generate_pages(spark, 20, partitions=1).withColumn(
        "url", F.concat(F.lit("copy-"), "url"))
    wh = str(tmp_path / "wh")
    run_pipeline(spark, pages.unionByName(copies), wh, partitions=4,
                 dedup_kernel_inputs=True)
    lineage = Catalog(spark, wh).lineage("kernel").collect()
    assert len(lineage) == spark.sparkContext.defaultParallelism == 4
    assert min(r.rows_out for r in lineage) > 0
    assert sum(r.rows_out for r in lineage) == 140


def test_resume_refuses_an_old_shaped_kernel_checkpoint(spark, tmp_path):
    """A stage_kernel written before the kernel loop emitted chain and
    triple rows reads back without them: resuming it would write empty
    chains and triples, so the pass refuses and says how to recompute."""
    from xrenner_spark.pipeline import KERNEL_SCHEMA
    pages = generate_pages(spark, 5, partitions=2)
    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh)
    names = KERNEL_SCHEMA.fieldNames()
    old = kernel_stage(extract_stage(pages), spark.sparkContext.broadcast(load_lex()))
    cat.write(old.filter("row_type IN ('d', 'm', 'v')")
              .select(*names[:names.index("verb_lemma") + 1]), "stage_kernel")

    with pytest.raises(ValueError, match=r"resume=False \(run_kg --no-resume\)"):
        run_pipeline(spark, pages, wh, partitions=2)
    assert not cat.exists("chains") and not cat.exists("triples")
    assert run_pipeline(spark, pages, wh, partitions=2, resume=False).count() > 0


def test_resume_warns_when_model_changes(spark, warehouse, capsys):
    """A resumed stage_kernel checkpoint was computed under the model the
    warehouse was built with; asking for another model must say so."""
    from xrenner_spark.lex import DEFAULT_MODEL_DIR
    seq_dir = os.path.join(os.path.dirname(DEFAULT_MODEL_DIR), "web_seq")
    run_pipeline(spark, generate_pages(spark, 5, partitions=2), warehouse,
                 partitions=4, lex_dir=seq_dir)
    err = capsys.readouterr().err
    assert "stage_kernel checkpoint exists" in err
    assert "lex_dir" in err
