"""Driver cost of building run_pipeline's plans.  Every call into the JVM
is a py4j round trip, and a plan built through the Column API pays one
per call (with eager analysis); as one spark.sql statement it pays a
handful.  Counted here by wrapping py4j's ``send_command``: the least of
three builds after a warm-up, so a py4j object-release command from
garbage collection cannot tip a bound."""

import gc

import pytest
from py4j.clientserver import ClientServerConnection

from xrenner_spark import load_lex
from xrenner_spark import pipeline as P


def _round_trips(build, monkeypatch):
    build()  # warm-up
    calls = []
    orig = ClientServerConnection.send_command

    def counting(self, command):
        calls.append(command)
        return orig(self, command)

    counts = []
    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        for _ in range(3):
            gc.collect()
            del calls[:]
            build()
            counts.append(len(calls))
    assert min(counts) > 0, "no py4j command counted: a different gateway?"
    return min(counts)


@pytest.fixture(scope="module")
def inputs(spark):
    pages = spark.createDataFrame([], P.PAGES_SCHEMA)
    extracted = spark.createDataFrame([], P.EXTRACT_SCHEMA)
    kernel = spark.createDataFrame([], P.KERNEL_SCHEMA)
    return pages, extracted, kernel, spark.sparkContext.broadcast(load_lex())


def test_extract_plan_is_cheap_to_build(inputs, monkeypatch):
    pages = inputs[0]
    assert _round_trips(lambda: P.extract_stage(P.salt_by_url(pages, 4)),
                        monkeypatch) <= 30


@pytest.mark.parametrize("stage", ["extract", "kernel"])
def test_lineage_plan_is_one_statement(inputs, monkeypatch, stage):
    stage_df = inputs[1] if stage == "extract" else inputs[2]
    assert _round_trips(lambda: P.lineage_of(stage_df, stage), monkeypatch) <= 10


@pytest.mark.parametrize("view", ["mentions_view", "verbs_view", "docs_view"])
def test_kernel_views_are_one_statement(inputs, monkeypatch, view):
    kernel = inputs[2]
    assert _round_trips(lambda: getattr(P, view)(kernel), monkeypatch) <= 10


def test_dedup_adds_one_statement_to_the_kernel_plan(inputs, monkeypatch):
    """The input-order statement and the core count: 9 round trips."""
    _, extracted, _, bcast = inputs
    kernel = _round_trips(lambda: P.kernel_stage(extracted, bcast), monkeypatch)
    dedup = _round_trips(lambda: P.dedup_kernel_stage(extracted, bcast), monkeypatch)
    assert dedup <= kernel + 9, (dedup, kernel)
