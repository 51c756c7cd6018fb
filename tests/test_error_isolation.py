"""One corrupt page must not kill a partition: every sink records the
error for that page (the kernel on its doc row, the serializer as an
'error' row) and processes every other document normally (long-format
output: 'd' doc rows carry metrics/errors, 'm' rows are mentions)."""

from xrenner_spark.catalog import Catalog
from xrenner_spark.lex import load_lex
from xrenner_spark.pipeline import (docs_view, extract_stage, kernel_stage,
                                    run_pipeline)


def test_corrupt_pages_are_isolated(spark, corrupt_pages):
    pages, bad_urls = corrupt_pages()
    bcast = spark.sparkContext.broadcast(load_lex())
    out = kernel_stage(extract_stage(pages), bcast).collect()
    docs = [r for r in out if r.row_type == "d"]
    assert len(docs) == 10
    errors = {r.url: r.error for r in docs if r.error != ""}
    assert set(errors) == bad_urls
    assert all("byte-identity violation" in e for e in errors.values())
    mention_urls = {r.url for r in out if r.row_type == "m"}
    for r in docs:
        if r.error == "":
            assert r.url in mention_urls
        else:
            assert r.url not in mention_urls


def test_run_pipeline_isolates_corrupt_pages(spark, corrupt_pages, tmp_path):
    """The production path classifies the same two pages as errors: two
    error doc rows, no mention or triple rows from them, and both counted
    as extraction invariant violations."""
    pages, bad_urls = corrupt_pages()
    wh = str(tmp_path / "wh")
    triples = run_pipeline(spark, pages, wh, partitions=2)
    cat = Catalog(spark, wh)
    kernel = cat.read("stage_kernel")
    errors = {r.url: r.error for r in docs_view(kernel).collect() if r.error != ""}
    assert set(errors) == bad_urls
    assert all("byte-identity violation" in e for e in errors.values())
    assert kernel.filter(kernel.row_type != "d").filter(
        kernel.url.isin(*bad_urls)).count() == 0
    assert triples.filter(triples.url.isin(*bad_urls)).count() == 0
    assert triples.count() > 0
    assert cat.lineage("extract").selectExpr(
        "sum(invariant_violations)").first()[0] == 2


def test_serialize_stage_isolates_bad_docs(spark):
    """A corrupt page yields one (url, 'error', ...) row; every other
    document still serializes."""
    import pandas as pd

    from xrenner_spark.corpus import build_page
    from xrenner_spark.pipeline import serialize_stage

    rows = [build_page(i) for i in range(6)]
    rows[2]["html"] = b"<html>no article here</html>"   # breaks extraction
    pages = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]))
    bcast = spark.sparkContext.broadcast(load_lex())
    out = serialize_stage(pages, bcast, formats=("sgml",)).collect()
    errors = [r for r in out if r.fmt == "error"]
    good = [r for r in out if r.fmt == "sgml"]
    assert len(errors) == 1 and rows[2]["url"] == errors[0].url
    assert len(good) == 5 and all(r.payload for r in good)
