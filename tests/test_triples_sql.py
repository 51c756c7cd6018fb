"""The chain and triple rows the kernel loop emits against a Column-API
reference kept here: an independent statement of triples.py's rules
(triples.canonical_mentions / extract_triples, the one shipped
definition) as Spark aggregates and joins over mention and verb tables.
The emitted rows of kernel output (clean and corrupt pages), and those
functions fed each document's rows of the kernel output and of
hand-built tables of edge cases and NULLs, equal the reference's rows as
a multiset with the same column types.  Tests that spell out expected
rows run the shipped functions."""

from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xrenner_spark import load_lex
from xrenner_spark.catalog import Catalog
from xrenner_spark.pipeline import (KERNEL_SCHEMA, chains_stage, docs_view,
                                    extract_stage, generate_pages, kernel_stage,
                                    mentions_view, triples_stage, verbs_view)
from xrenner_spark.triples import canonical_mentions, extract_triples

SUBJECT_FUNC = "^[nc]subj"
OBJECT_FUNC = "^(obj|dobj|iobj|obl|nmod)$"


def _reference_chains(mentions):
    """Chains per (url, group_id) in SQL semantics: min_by/max_by over
    total orderings, FILTERed aggregates, a coalesce of the candidates."""
    return (
        mentions.groupBy("url", "group_id").agg(
            F.expr("min_by(core_text, struct(start, end)) "
                   "FILTER (WHERE form = 'proper')").alias("proper_first"),
            F.expr("max_by(core_text, struct(length(core_text), -start, -end)) "
                   "FILTER (WHERE form != 'pronoun')").alias("longest_nominal"),
            F.expr("min_by(core_text, struct(start, end))").alias("first_any"),
            F.count("*").alias("n_mentions"),
            F.expr("min_by(entity, struct(start, end))").alias("entity"),
            F.collect_list("mark_id").alias("mention_ids"),
        )
        .withColumn("canonical_text",
                    F.coalesce("proper_first", "longest_nominal", "first_any"))
        .drop("proper_first", "longest_nominal", "first_any")
    )


def _reference_triples(mentions, verbs, chains):
    """Triples: role-tagged mentions joined to their verb and (left) to
    ``chains``, one row per subject x object pair of two different
    mentions on one (url, verb_id)."""
    canon = chains.select(
        "url", "group_id", "canonical_text", F.col("entity").alias("chain_entity"))
    args = (mentions
            .withColumn("role",
                        F.when(F.regexp_like("head_func", F.lit(SUBJECT_FUNC)), "subj")
                        .when(F.regexp_like("head_func", F.lit(OBJECT_FUNC)), "obj"))
            .filter(F.col("role").isNotNull())
            .join(verbs, (mentions.url == verbs.url)
                  & (mentions.head_parent == verbs.verb_id), "inner")
            .drop(verbs.url)
            .join(canon, ["url", "group_id"], "left"))
    subj = args.filter(F.col("role") == "subj").select(
        "url", "warc_ts", "verb_id", "verb_lemma",
        F.col("canonical_text").alias("subj"),
        F.col("group_id").alias("subj_group"),
        F.col("chain_entity").alias("subj_entity"),
        F.col("sent_num").alias("sent_num"),
        F.col("mark_id").alias("subj_mark"))
    obj = args.filter(F.col("role") == "obj").select(
        "url", "verb_id",
        F.col("canonical_text").alias("obj"),
        F.col("group_id").alias("obj_group"),
        F.col("chain_entity").alias("obj_entity"),
        F.col("mark_id").alias("obj_mark"))
    return (subj.join(obj, ["url", "verb_id"], "inner")
            .filter(F.col("subj_mark") != F.col("obj_mark"))
            .select("url", "warc_ts", "subj", F.col("verb_lemma").alias("pred"),
                    "obj", "subj_group", "obj_group", "subj_entity", "obj_entity",
                    "sent_num", "verb_id"))


def _reference(mentions, verbs):
    """The reference's (chains, triples) over ``mentions``/``verbs``."""
    chains = _reference_chains(mentions)
    return chains, _reference_triples(mentions, verbs, chains)


@pytest.fixture(scope="module")
def kernel_out(spark, corrupt_pages, tmp_path_factory):
    """Kernel output of generated corpus pages plus the corrupt pages,
    written once so every test reads the same table."""
    pages, _ = corrupt_pages(n=12)
    pages = pages.unionByName(generate_pages(spark, 30, partitions=2))
    bcast = spark.sparkContext.broadcast(load_lex())
    cat = Catalog(spark, str(tmp_path_factory.mktemp("kernel_wh")))
    cat.write(kernel_stage(extract_stage(pages), bcast), "stage_kernel")
    return cat.read("stage_kernel", KERNEL_SCHEMA)


def _mention(url, mark_id, group_id, head_func, head_parent, core_text,
             form="common", start=1, sent_num=1, entity="person", end=None):
    return dict(url=url, warc_ts=None, mark_id=mark_id, start=start,
                end=start + 1 if end is None else end, text=core_text,
                core_text=core_text,
                entity=entity, form=form, group_id=group_id,
                head_func=head_func, head_parent=head_parent, sent_num=sent_num)


_EDGE_MENTIONS = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("mark_id", T.StringType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("core_text", T.StringType()),
    T.StructField("entity", T.StringType()),
    T.StructField("form", T.StringType()),
    T.StructField("group_id", T.LongType()),
    T.StructField("head_func", T.StringType()),
    T.StructField("head_parent", T.IntegerType()),
    T.StructField("sent_num", T.IntegerType()),
])
_EDGE_VERBS = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("verb_id", T.IntegerType()),
    T.StructField("verb_lemma", T.StringType()),
])


@pytest.fixture(scope="module")
def edge_views(spark):
    """Two subjects and two objects on one verb; a verb with subjects
    only; a mention whose group is left out of the chains; a NULL
    mark_id; functions with a quote and a pipe in them that neither role
    pattern selects."""
    m = [
        # doc a, verb 5: 2 subjects x 2 objects (one object shares the
        # first subject's group, so it is a different mention, same chain)
        _mention("a", "1-2", 1, "nsubj", 5, "Kim", form="proper"),
        _mention("a", "3", 2, "csubj", 5, "the dog", start=3),
        _mention("a", "6-7", 1, "obj", 5, "her", form="pronoun", start=6),
        _mention("a", "8", 3, "obl", 5, "the park", start=8),
        # doc a, verb 10: subjects only
        _mention("a", "9", 4, "nsubj", 10, "a cat", start=9, sent_num=2),
        _mention("a", "11", 2, "nsubj:pass", 10, "the dog", start=11, sent_num=2),
        # doc b: test_edge_case_triples leaves the object's group 99 out
        # of the chains
        _mention("b", "1", 7, "nsubj", 2, "Lee", form="proper"),
        _mention("b", "3", 99, "dobj", 2, "a letter", start=3),
        # doc c: a NULL mark_id on each side, and a well-formed object
        _mention("c", None, 1, "nsubj", 2, "someone"),
        _mention("c", "4", 2, "obj", 2, "it", form="pronoun", start=4),
        _mention("c", "5", 3, "iobj", 2, "nobody", start=5),
        _mention("c", None, 3, "obj", 2, "nothing", start=6),
        _mention("c", "7", 4, "nsubj", 2, "Max", form="proper", start=7),
        # functions neither role pattern selects
        _mention("d", "1", 1, "it's|subj", 3, "Ann", form="proper"),
        _mention("d", "2", 2, "o'bj", 3, "the key", start=2),
        _mention("d", "3", 3, "obj", 3, "a door", start=3),
        # a mention whose verb is not in the verbs table
        _mention("d", "4", 4, "nsubj", 42, "Bo", form="proper", start=4),
    ]
    v = [("a", 5, "see"), ("a", 10, "sleep"), ("b", 2, "write"),
         ("c", 2, "give"), ("d", 3, "open")]
    return _views(spark, m, v)


def _views(spark, m, v):
    mentions = spark.createDataFrame(
        [tuple(row[f.name] for f in _EDGE_MENTIONS) for row in m], _EDGE_MENTIONS)
    verbs = spark.createDataFrame(v, _EDGE_VERBS)
    return mentions, verbs


@pytest.fixture(scope="module")
def null_views(spark):
    """SQL's NULL logic and the orderings' tie-breaks: a NULL form (neither
    proper nor non-pronoun), a NULL core_text (its length orders first), a
    NULL head_func, a NULL head_parent, a NULL group, a non-verb
    head_parent, two proper spans sharing a start, two nominals sharing a
    length, a group of NULL-form mentions only, and a NULL-form first
    span before a nominal."""
    m = [
        # group 1: the NULL-form subject is not proper, so the pronoun is
        # the only other member and the first span wins
        _mention("e", "1", 1, "nsubj", 2, "Zed", form=None, entity="thing"),
        _mention("e", "2", 1, None, 2, "he", form="pronoun", start=2),
        # group 2: a NULL core_text loses the longest-nominal order
        _mention("e", "3", 2, "obj", 2, None, start=3),
        _mention("e", "4", 2, "nsubj", 9, "a box", start=5),
        # group 3: NULL forms only: neither proper nor nominal
        _mention("e", "5", 3, "obl", 2, "thing", form=None, start=6),
        _mention("e", "6", 3, "obj", 2, "stuff", form=None, start=7),
        # group 4: proper spans with one start: the shorter end is first
        _mention("e", "7", 4, "nsubj", 2, "Ann Lee", form="proper", start=8, end=10),
        _mention("e", "8", 4, "nsubj", None, "Ann", form="proper", start=8, end=9),
        # group 5: nominals of one length: the earlier start, then end
        _mention("e", "9", 5, "iobj", 2, "cat", start=13, end=15),
        _mention("e", "10", 5, "dobj", 2, "dog", start=11, end=14),
        _mention("e", "11", 5, "nmod", 2, "cow", start=11, end=12),
        # group 6: the NULL-form first span is not proper, so the nominal
        # after it is canonical (neither function has a role)
        _mention("e", "13", 6, "appos", 2, "Rex", form=None, start=17),
        _mention("e", "14", 6, "amod", 2, "the dog", start=18),
        # a NULL group: its own chain row, no chain fields on its triples
        _mention("e", "12", None, "csubj", 2, "Nobody", start=16),
        _mention("f", "1", 1, "nsubj", 4, "Sue", form="proper"),
        _mention("f", "2", None, "obj", 4, "none", start=2),
    ]
    v = [("e", 2, "put"), ("f", 4, "take")]
    return _views(spark, m, v)


def _typed_rows(df):
    """Column types and the multiset of rows; list cells sorted, since
    ``collect_list`` order (chains.mention_ids) is not fixed.  A type is
    compared as its SQL name: a parquet read makes array elements
    nullable."""
    return ([(f.name, f.dataType.simpleString()) for f in df.schema],
            Counter(tuple(tuple(sorted(v)) if isinstance(v, list) else v for v in r)
                    for r in df.collect()))


def _documents(mentions, verbs):
    """(url, mention dicts, {verb_id: lemma}) per url of ``mentions``."""
    docs, lemmas = {}, {}
    for r in mentions.collect():
        docs.setdefault(r.url, []).append(r.asDict())
    for r in verbs.collect():
        lemmas.setdefault(r.url, {})[r.verb_id] = r.verb_lemma
    return [(url, ms, lemmas.get(url, {})) for url, ms in docs.items()]


def _python_rows(mentions, verbs):
    """canonical_mentions/extract_triples over each document's rows of
    ``mentions``/``verbs``: chain and triple dicts with their url (and
    the triples' warc_ts)."""
    chains, triples = [], []
    for url, ms, lemmas in _documents(mentions, verbs):
        by_group = canonical_mentions(ms)
        chains += [dict(c, url=url) for c in by_group.values()]
        triples += [dict(t, url=url, warc_ts=ms[0]["warc_ts"])
                    for t in extract_triples(ms, lemmas, by_group)]
    return chains, triples


def _python_chains_and_triples(spark, mentions, verbs, like):
    """_python_rows as DataFrames with ``like``'s columns (chains,
    triples) typed as the kernel table's columns of those names."""
    return [spark.createDataFrame(
        [tuple(row[c] for c in df.columns) for row in rows],
        T.StructType([KERNEL_SCHEMA[c] for c in df.columns]))
        for rows, df in zip(_python_rows(mentions, verbs), like)]


def _one_document_per_url(kernel_out):
    """The kernel rows of the urls with one analyzed document.  The
    Column-API reference groups by url, as do the DuckDB twins in
    operators/kg_oracle.py, so both assume one document per url: given
    two documents under one url they merge their chains and cross-pair
    their triples, while the kernel loop keeps each document's rows its
    own (test_repeated_url_keeps_each_documents_rows).  The fixture holds
    pages 0-11 twice (corrupt_pages and generate_pages), so the diffs
    keep the urls with one document."""
    single = (docs_view(kernel_out).filter("error = ''").groupBy("url").count()
              .filter("count = 1").select("url"))
    return kernel_out.join(single, "url", "left_semi")


def test_emitted_chains_and_triples_match_statements(kernel_out):
    """The kernel loop's 'c' and 't' rows (clean and corrupt pages) are
    the reference's chains and triples over its 'm' and 'v' rows."""
    kernel = _one_document_per_url(kernel_out)
    want = _reference(mentions_view(kernel), verbs_view(kernel))
    for got, ref in zip((chains_stage(kernel), triples_stage(kernel)), want):
        assert got.columns == ref.columns
        got_rows, ref_rows = _typed_rows(got), _typed_rows(ref)
        assert got_rows == ref_rows
        assert got_rows[1]


@pytest.mark.parametrize("views", ["kernel_out", "edge_views", "null_views"])
def test_python_chains_and_triples_match_statements(spark, request, views):
    """The Python functions the kernel loop calls, fed per document, give
    the reference's rows: on kernel output and on the hand-built tables
    of edge cases and NULLs."""
    if views == "kernel_out":
        kernel = _one_document_per_url(request.getfixturevalue(views))
        mentions, verbs = mentions_view(kernel), verbs_view(kernel)
    else:
        mentions, verbs = request.getfixturevalue(views)
    want = _reference(mentions, verbs)
    for got, ref in zip(_python_chains_and_triples(spark, mentions, verbs, want), want):
        assert _typed_rows(got) == _typed_rows(ref)


def test_repeated_url_keeps_each_documents_rows(spark):
    """Two documents under one url each get their own chain and triple
    rows, those the document gets alone, where a url-keyed grouping (the
    reference here, the DuckDB twins) would merge their chains and pair
    one's subjects with the other's objects."""
    bcast = spark.sparkContext.broadcast(load_lex())
    page = generate_pages(spark, 1, partitions=1)
    alone = kernel_stage(extract_stage(page), bcast)
    twice = kernel_stage(extract_stage(page.unionByName(page)), bcast)
    for stage in (chains_stage, triples_stage):
        once = _typed_rows(stage(alone))
        assert once[1]
        assert _typed_rows(stage(twice)) == (once[0], once[1] + once[1])


def test_null_case_chains_and_triples(null_views):
    """What canonical_mentions and extract_triples yield on the NULL
    cases, spelled out: each chain's canonical string, and every subject
    x object pair of doc e's verb (three subjects; six objects in groups
    2, 3, 3, 5, 5, 5) and doc f's."""
    chains, triples = _python_rows(*null_views)
    assert {(c["url"], c["group_id"]): c["canonical_text"] for c in chains} == {
        ("e", 1): "Zed", ("e", 2): "a box", ("e", 3): "thing", ("e", 4): "Ann",
        ("e", 5): "cow", ("e", 6): "the dog", ("e", None): "Nobody",
        ("f", 1): "Sue", ("f", None): "none"}
    want = Counter()
    for subj, entity in (("Zed", "thing"), ("Ann", "person"), (None, None)):
        for obj, n in (("a box", 1), ("thing", 2), ("cow", 3)):
            want[("e", subj, obj, entity)] += n
    want[("f", "Sue", None, "person")] += 1
    assert Counter((t["url"], t["subj"], t["obj"], t["subj_entity"])
                   for t in triples) == want


def test_edge_case_triples(edge_views):
    """What extract_triples yields on the edge cases, spelled out: 2 x 2
    pairs on one verb, nothing from a subject-only verb or with a NULL
    mark, a NULL canonical string for a group missing from chains."""
    got = Counter()
    for url, ms, lemmas in _documents(*edge_views):
        chains = canonical_mentions(ms)
        chains.pop(99, None)  # doc b's object group
        got.update((url, t["subj"], t["pred"], t["obj"])
                   for t in extract_triples(ms, lemmas, chains))
    assert got == Counter([
        ("a", "Kim", "see", "Kim"), ("a", "Kim", "see", "the park"),
        ("a", "the dog", "see", "Kim"), ("a", "the dog", "see", "the park"),
        ("b", "Lee", "write", None),
        ("c", "Max", "give", "it"), ("c", "Max", "give", "nothing"),
    ])
