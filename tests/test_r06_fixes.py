"""Round-6 correctness fixes (from the round-5 advice), pinned.

1. find_stop_zones first-word gate: a token FORM with an internal space
   (legal CoNLL-U) must still be able to open a stop zone — verified
   against the reference engine's output for the same document (the
   reference suppresses the markable; see the r6 notes).
2. CORPUS_DECONTAMINATE_SQL is generated from DECONTAM_NGRAM; at the
   pinned n=3 the rendered text must stay byte-identical to the
   committed oracle fingerprint (the driver hashes oracle SQL text).
3. dedup_kernel_stage's reuse key is the payload, not the url: a url
   that re-appears with DIFFERENT content (re-crawled page) stays apart,
   each payload analyzed on its own.
"""

import hashlib

from xrenner_spark.kernel import analyze_document
from xrenner_spark.lex import load_lex


def test_multiword_token_opens_stop_zone():
    # token 3's FORM is "a lot" (internal space); "a lot" is a stop-list
    # entry, so the reference suppresses the markable on it — before the
    # r6 fix the first-word gate skipped the candidate window entirely
    doc = (
        "1\tHe\the\tPRON\tPRON\t_\t2\tnsubj\t_\t_\n"
        "2\tliked\tlike\tVERB\tVERB\t_\t0\troot\t_\t_\n"
        "3\ta lot\tlot\tNOUN\tNOUN\t_\t2\tobj\t_\t_\n"
        "4\t.\t.\tPUNCT\tPUNCT\t_\t2\tpunct\t_\t_\n")
    result = analyze_document("t", doc, load_lex())
    spans = [m["mark_id"] for m in result.mentions]
    assert spans == ["1_1"], spans  # only "He"; no markable on "a lot"


def test_decontaminate_sql_pinned():
    from xrenner_spark.operators.textstats import (CORPUS_DECONTAMINATE_SQL,
                                                   TEXT_HYGIENE_SQL)
    assert hashlib.md5(CORPUS_DECONTAMINATE_SQL.encode()).hexdigest() == \
        "c5965eebd90dd96aa16bc51f1d6f1590"
    assert hashlib.md5(TEXT_HYGIENE_SQL.encode()).hexdigest() == \
        "106bd977050e7a9433dfa99620ad393d"


def test_dedup_kernel_recrawled_url(spark, tmp_path):
    """One url, two different payloads (content changed between crawls),
    plus a third page: dedup mode must equal the plain path row-for-row
    (but part_id and kernel_ms)."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401  (parity import)
    from xrenner_spark.catalog import Catalog
    from xrenner_spark.corpus import build_page
    from xrenner_spark.pipeline import run_pipeline

    p0, p1, p2 = build_page(0), build_page(1), build_page(2)
    rows = []
    for src, url, ts in ((p0, "https://r.example/page", "2024-01-01"),
                         (p1, "https://r.example/page", "2024-02-01"),
                         (p2, "https://r.example/other", "2024-01-15")):
        rows.append({"url": url, "warc_ts": pd.Timestamp(ts),
                     "html": src["html"], "text": src["text"], "lang": "en"})
    pages = spark.createDataFrame(pd.DataFrame(rows))

    # NB: triples are NOT compared here — two *different documents* under
    # one url entangle the chain aggregation (url, group_id) key space and
    # min_by tie-breaks arbitrarily across them, in both modes alike; the
    # contract dedup_kernel_stage owns is the kernel-stage row multiset
    run_pipeline(spark, pages, str(tmp_path / "wp"), partitions=2)
    run_pipeline(spark, pages, str(tmp_path / "wd"), partitions=2,
                 dedup_kernel_inputs=True)

    kp = Catalog(spark, str(tmp_path / "wp")).read("stage_kernel")
    kd = Catalog(spark, str(tmp_path / "wd")).read("stage_kernel")
    cols = [c for c in kp.columns if c not in ("part_id", "kernel_ms")]
    rows_p = sorted(map(tuple, kp.select(cols).collect()))
    rows_d = sorted(map(tuple, kd.select(cols).collect()))
    # a url-keyed dedup would give both crawls of the shared url one
    # payload's rows
    assert len(rows_p) == len(rows_d)
    assert rows_p == rows_d


def test_whitespace_only_edge_lines_block_alignment():
    """clean.strip() emulation: leading/trailing whitespace-only lines
    must not open blocks or shift sentence surface strings (r6 review
    fix; differential fuzz vs the round-start parser: 0/20,000 docs
    mismatch, ``git show 5ce8ac4:scripts/fuzz_read_document.py``; the
    same documents are scripts/self_diff.py's ``whitespace`` family)."""
    body = ("1\tHe\the\tPRON\tPRON\t_\t2\tnsubj\t_\t_\n"
            "2\tliked\tlike\tVERB\tVERB\t_\t0\troot\t_\t_\n"
            "3\tit\tit\tPRON\tPRON\t_\t2\tobj\t_\t_\n")
    lex = load_lex()
    plain = analyze_document("a", body, lex)
    # ' ' then blank before the sentence: stripped away entirely by the
    # old two-pass reader; the merged reader must align identically
    junked = analyze_document("b", " \n\n" + body + "\n \n", lex)
    assert [m["mark_id"] for m in plain.mentions] == \
        [m["mark_id"] for m in junked.mentions]
    assert plain.n_sentences == junked.n_sentences == 1


def test_empty_form_token_does_not_break_affix_extension():
    """An empty-FORM token adjacent to a markable must not consume the
    affix walk's word budget: 'Acme < > & Co.' still absorbs the
    '& Co.' suffix (r6 review fix; the bound counts words, not
    tokens)."""
    doc = ("1\tAcme\tAcme\tPROPN\tPROPN\t_\t0\troot\t_\t_\n"
           "2\t \t \tX\tX\t_\t1\tpunct\t_\t_\n"
           "3\t&\t&\tCCONJ\tCCONJ\t_\t1\tcc\t_\t_\n"
           "4\tCo.\tCo.\tPROPN\tPROPN\t_\t1\tflat\t_\t_\n"
           "5\texpanded\texpand\tVERB\tVERB\t_\t1\tdep\t_\t_\n")
    r = analyze_document("t", doc, load_lex())
    spans = {m["mark_id"] for m in r.mentions}
    assert "1_4" in spans, spans  # suffix absorbed, span covers 'Co.'


def test_simhash_chunked_accumulation_identical(spark):
    """The giant-page chunking path must produce the same signature as
    the single-pass arithmetic (CHUNK boundary forced below it)."""
    import pandas as pd
    from xrenner_spark.operators import dedup as D
    text = " ".join("w%d" % (i % 997) for i in range(70000))  # > CHUNK
    docs = spark.createDataFrame(pd.DataFrame(
        [{"doc_id": 1, "text": text}, {"doc_id": 2, "text": "alpha beta"}]))
    out = {r.doc_id: r.simhash16
           for r in D._simhash(docs, 16, "simhash16").collect()}
    # independent recount in pure python
    import hashlib
    for doc_id, t in ((1, text), (2, "alpha beta")):
        hs = [int(hashlib.md5(w.encode("utf8")).hexdigest()[:15], 16)
              for w in t.split(" ") if w != ""]
        expect = sum(1 << b for b in range(16)
                     if sum(((h >> b) & 1) * 2 - 1 for h in hs) > 0)
        assert out[doc_id] == expect


def test_corpus_render_memo_byte_identical():
    """r6 generator memoization: each sentence template's rendered
    (conllu, text) is memoized on its pick key.  Gate 1: rebuilding with
    a cold memo yields the same bytes as the warm-memo path (fresh vs
    memoized renders agree).  Gate 2: the first 500 documents hash to the
    round-start corpus fingerprint (any drift in draws, keys, or render
    bodies changes every downstream oracle)."""
    import hashlib as _hl

    from xrenner_spark import corpus

    warm = [corpus.build_document(i) for i in range(500)]
    assert len(corpus._RENDER_MEMO) > 0
    saved = dict(corpus._RENDER_MEMO)
    try:
        corpus._RENDER_MEMO.clear()
        cold = [corpus.build_document(i) for i in range(500)]
    finally:
        corpus._RENDER_MEMO.update(saved)
    assert cold == warm

    h = _hl.md5()
    for d in warm:
        h.update(d["conllu"].encode())
        h.update(b"\x00")
        h.update(d["text"].encode())
        h.update(b"\x00")
    # round-start (pre-memo) fingerprint, computed from the unmodified
    # generator over doc_ids 0..499
    assert h.hexdigest() == "2dfd6d947cffc6e932ec072523388b3a"
