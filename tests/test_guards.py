"""Round-5 guard/parameter tests: the explicit knobs and loud failures
added for the round-4 advice items (sizing probes, size guards, zip-slip
rejection, per-call descendant views)."""

import os
import sys
import zipfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def test_ngram_jaccard_refuses_web_scale(spark, monkeypatch):
    """dedup_ngram_jaccard is the all-pairs small-sf oracle twin; above
    NGRAM_ALLPAIRS_MAX_DOCS it must refuse loudly and point the caller at
    dedup_jaccard_verify (round-4 verdict #4)."""
    from xrenner_spark.operators import dedup
    monkeypatch.setattr(dedup, "parquet_rows",
                        lambda path, fallback_df=None: 10_000_000)
    with pytest.raises(ValueError, match="dedup_jaccard_verify"):
        dedup.dedup_ngram_jaccard(spark, SF)


def test_ngram_jaccard_runs_at_oracle_sf(spark):
    from xrenner_spark.operators import dedup
    assert dedup.dedup_ngram_jaccard(spark, SF).count() > 0


def test_simhash_n_bits_is_explicit(spark):
    """The signature width is a real parameter: pinning 16 bits on a
    corpus that would default to 60 reproduces the demo semantics, and
    invalid widths raise."""
    from xrenner_spark.operators import dedup
    demo = dedup.dedup_simhash_pairs(spark, SF)            # default: 16 here
    pinned = dedup.dedup_simhash_pairs(spark, SF, n_bits=16)
    assert demo.count() == pinned.count()
    with pytest.raises(ValueError, match="n_bits"):
        dedup.dedup_simhash_pairs(spark, SF, n_bits=13)
    with pytest.raises(ValueError, match="n_bits"):
        dedup.dedup_simhash_pairs(spark, SF, n_bits=64)


def test_parquet_rows_matches_count(spark):
    from xrenner_spark.operators._sizing import parquet_rows
    path = SF + "/documents.parquet"
    assert parquet_rows(path) == spark.read.parquet(path).count()
    with pytest.raises(Exception):
        parquet_rows("/nonexistent/evil.parquet")
    # fallback path: unreadable location but a live DataFrame
    df = spark.read.parquet(path)
    assert parquet_rows("/nonexistent/evil.parquet", fallback_df=df) == df.count()


def test_cluster_assign_accepts_verified_pairs(spark):
    """Handing the materialized verify output in directly must produce
    the identical clustering (round-4 verdict #3)."""
    from xrenner_spark.operators import dedup
    standalone = dedup.dedup_cluster_assign(spark, SF)
    pairs = dedup.dedup_jaccard_verify(spark, SF).localCheckpoint(eager=True)
    injected = dedup.dedup_cluster_assign(spark, SF, verified_pairs=pairs)
    assert sorted(standalone.collect()) == sorted(injected.collect())


def test_zip_slip_rejected(tmp_path):
    """A model zip with ../ members must be refused before extraction."""
    from xrenner_spark.lex import load_lex
    evil = tmp_path / "evil.xrm"
    with zipfile.ZipFile(evil, "w") as zf:
        zf.writestr("../outside.txt", "pwned")
        zf.writestr("config.ini", "[main]\n")
    with pytest.raises(IOError, match="unsafe member"):
        load_lex(str(evil))
    assert not (tmp_path.parent / "outside.txt").exists()


def test_descendants_view_is_per_call(spark):
    """Two concurrent closure plans must not rebind each other's view:
    building plan A, then plan B over different tokens, then EXECUTING A
    must still return A's answer (the old fixed view name failed this)."""
    from pyspark.sql import Row
    from xrenner_spark.pipeline import descendants_closure_sql
    toks_a = spark.createDataFrame(
        [Row(url="a", tid=1, head=0), Row(url="a", tid=2, head=1),
         Row(url="a", tid=3, head=2)])
    toks_b = spark.createDataFrame([Row(url="b", tid=1, head=0)])
    plan_a = descendants_closure_sql(toks_a)
    descendants_closure_sql(toks_b)          # would rebind a shared view
    got = {(r.ancestor, r.descendant) for r in plan_a.collect()}
    assert got == {(1, 2), (2, 3), (1, 3)}


def test_descendants_leaves_no_view(spark):
    """A closure plan binds its tokens for the one statement: no temp
    view is left in the session after the call."""
    from pyspark.sql import Row
    from xrenner_spark.pipeline import descendants_closure_sql
    views = lambda: {r.viewName for r in spark.sql("SHOW VIEWS").collect()}
    before = views()
    toks = spark.createDataFrame([Row(url="a", tid=1, head=0),
                                  Row(url="a", tid=2, head=1)])
    plan = descendants_closure_sql(toks)
    descendants_closure_sql(toks)
    assert views() == before
    assert {(r.ancestor, r.descendant) for r in plan.collect()} == {(1, 2)}


def test_driver_memory_default_fits_host(spark):
    """The driver heap defaults to min(48g, half of physical memory), so
    a default session cannot be sized past the host it runs on;
    SPARK_GRAFT_DRIVER_MEM overrides it."""
    from xrenner_spark.session import default_driver_memory
    default = default_driver_memory()
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert default.endswith("m")
    assert 0 < int(default[:-1]) <= min(48 * 1024, phys_mb // 2)
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_core_default_fits_host(monkeypatch):
    """A session without an explicit core count gets one task slot per
    CPU this process may use; SPARK_GRAFT_CPUS overrides it."""
    from xrenner_spark.session import default_cores
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
