"""Stage 1 in Spark SQL: ``pipeline.extract_stage`` must agree with the
Python extractors (``corpus.extract_text``/``extract_conllu`` under the
rule that any failure gives ("", "")) on every row, and must plan no
Python worker."""

import datetime
import hashlib
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from xrenner_spark.corpus import build_page, extract_conllu, extract_text
from xrenner_spark.pipeline import PAGES_SCHEMA, extract_stage, salt_by_url

PARTITIONS = 4

_MARKERS = ["<article>", "</article>", "<!--@conllu\n", "\n-->"]
_VALID = (
    [m.encode("utf8") for m in _MARKERS]
    + [m[::-1].encode("utf8") for m in _MARKERS]            # reversed
    + [b"<article", b"<!--@conllu", b"-->", b"<", b"\n", b"\r\n", b"\t",
       b"plain text ", b"1\tThe\tthe\tDT\n"]
    + ["é".encode("utf8"), "€".encode("utf8"), "𐍈".encode("utf8"),
       "😀".encode("utf8"), "\u3000".encode("utf8")]    # 2-, 3-, 4-byte
    + [b"\xef\xbb\xbf", b"\x00"])                            # BOM, NUL
_INVALID = [
    b"\xed\xa0\x80", b"\xed\xbf\xbf",                          # surrogates
    b"\xc0\xaf", b"\xc1\xbf", b"\xe0\x80\xaf", b"\xf0\x80\x80\xaf",  # overlong
    b"\xf4\x90\x80\x80", b"\xf5\x80\x80\x80", b"\xf8\x88\x80\x80\x80",
    b"\xfe", b"\xff",                                           # out of range
    b"\xe2\x82", b"\xf0\x9f\x98", b"\xc2", b"\x80"]            # truncated


def _reference(html, text):
    """The Python extraction with the stage's failure rule."""
    try:
        extracted, conllu = extract_text(html), extract_conllu(html)
    except Exception:
        extracted, conllu = "", ""
    return (extracted, conllu,
            hashlib.sha256(extracted.encode("utf8")).hexdigest(),
            extracted == text)


def _inputs(n_random=3000, n_pages=300, seed=7):
    """(url, html, text) rows: seeded marker/byte soups, corpus pages
    (some corrupted), and NULL html / NULL text rows."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_random):
        pieces = [rng.choice(_VALID) for _ in range(rng.randint(0, 14))]
        if rng.random() < 0.5:  # a well-formed skeleton around the soup
            pieces = ([b"<html>", _VALID[0]] + pieces[:7] + [_VALID[1], _VALID[2]]
                      + pieces[7:] + [_VALID[3], b"</html>"])
        if rng.random() < 0.3:
            pieces.insert(rng.randint(0, len(pieces)), rng.choice(_INVALID))
        html = b"".join(pieces)
        try:
            extracted = extract_text(html)
        except Exception:
            extracted = ""
        text = rng.choice([extracted, extracted, "", None, "other text"])
        rows.append(("r%05d" % i, html, text))
    for doc_id in range(n_pages):
        page = build_page(doc_id)
        html = page["html"]
        if doc_id % 10 == 3:  # cut inside a multi-byte char or a marker
            html = html[: rng.randint(0, len(html))]
        elif doc_id % 10 == 7:
            html = html.replace(b"</article>", b"</articl>")
        rows.append(("p%05d" % doc_id, html, page["text"]))
    rows += [("n0", None, "text"), ("n1", None, ""), ("n2", None, None),
             ("n3", build_page(0)["html"], None), ("n4", b"", None)]
    return rows


def _pages_df(spark, rows):
    ts = datetime.datetime(2024, 1, 1)
    data = [(url, ts, None if html is None else bytearray(html), text, "en")
            for url, html, text in rows]
    return spark.createDataFrame(data, PAGES_SCHEMA)


@pytest.fixture(scope="module")
def extracted(spark):
    rows = _inputs()
    pages = _pages_df(spark, rows)
    got = {r.url: r for r in
           extract_stage(salt_by_url(pages, PARTITIONS))
           .withColumn("want_part", F.pmod(F.hash(F.xxhash64("url")),
                                           F.lit(PARTITIONS)))
           .collect()}
    return rows, got


def test_sql_extract_matches_python(extracted):
    rows, got = extracted
    assert len(got) == len(rows)
    mismatches = []
    for url, html, text in rows:
        r = got[url]
        want = _reference(html, text)
        have = (r.text, r.conllu, r.text_sha256, r.byte_identical)
        if have != want:
            mismatches.append((url, html, text, have, want))
    assert mismatches == [], mismatches[:3]
    # the soups reach every branch: extracted, a marker missing or out of
    # order, and invalid UTF-8
    def branch(html):
        try:
            s = html.decode("utf8")
        except UnicodeDecodeError:
            return "invalid"
        return "cut" if all(m in s for m in _MARKERS) else "missing"
    soups = Counter(branch(h) for u, h, t in rows if u.startswith("r"))
    assert min(soups.values()) >= 300 and len(soups) == 3, soups


def test_null_text_rows_are_invariant_violations(spark, extracted):
    """A NULL page text is a violation, counted by the extract lineage
    (a plain ``==`` would give NULL and drop out of the count)."""
    from xrenner_spark.pipeline import lineage_of
    rows, got = extracted
    # n1 is a NULL html with an empty page text: "" == "", as in Python
    for url in ("n0", "n1", "n2", "n3", "n4"):
        assert got[url].byte_identical is (url == "n1"), url
        assert (got[url].text, got[url].conllu) == ("", "") or url == "n3"
    pages = _pages_df(spark, [r for r in rows if r[0].startswith("n")])
    lineage = lineage_of(extract_stage(pages), "extract")
    assert lineage.agg(F.sum("invariant_violations")).first()[0] == 4


def test_part_id_is_the_salted_partition(extracted):
    _, got = extracted
    assert all(r.part_id == r.want_part for r in got.values())
    assert {r.part_id for r in got.values()} == set(range(PARTITIONS))


def test_extract_plan_has_no_python_node(spark):
    pages = _pages_df(spark, [("u", build_page(1)["html"], build_page(1)["text"])])
    qe = extract_stage(salt_by_url(pages, PARTITIONS))._jdf.queryExecution()
    plan = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    for node in ("MapInPandas", "PythonMapInArrow", "MapInArrow",
                 "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node
