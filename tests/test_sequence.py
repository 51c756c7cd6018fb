"""Sequence-tagger integration (kernel/sequence.py).

The reference's neural sequencer (flair/CRFSuite) cannot run here —
those runtimes are absent, for the reference too — so the integration
points are verified with the deterministic portable-JSON lexicon
tagger, which exercises the exact same consumption sites:

1. "O"-suppression of markable heads (reference xrenner_xrenner.py:471-474)
2. entity override above sequencer_override_thresh (xrenner_marker.py:186-191)
3. pronoun-entity fallback, no threshold (xrenner_marker.py:152-156)
4. disambiguation preference among alt_entities (xrenner_marker.py:869-873)
plus the no_seq switch (the reference's --noseq) and loud failures for
neural model files.
"""

import json
import os

import pytest

from xrenner_spark.kernel import analyze_document
from xrenner_spark.kernel.sequence import LexiconSequencer, load_sequencer
from xrenner_spark.lex import DEFAULT_MODEL_DIR, load_lex


# ---------------------------------------------------------------------
# predict_proba contract
# ---------------------------------------------------------------------

def test_flat_indexing_case_folding_and_default():
    seq = LexiconSequencer({"format": "xrenner-portable-sequencer-v1",
                            "default": ["O", 0.5],
                            "tags": {"paris": ["place", 0.9]}})
    preds = seq.predict_proba(["Paris is big .", "I saw PARIS ."])
    assert len(preds) == 8  # flat over both sentences
    assert preds[0] == ("place", 0.9)      # case-insensitive lookup
    assert preds[6] == ("place", 0.9)      # global index: sent2 token 3
    assert preds[1] == ("O", 0.5)          # default class
    cased = LexiconSequencer({"format": "xrenner-portable-sequencer-v1",
                              "case_sensitive": True,
                              "default": ["O", 0.5],
                              "tags": {"Paris": ["place", 0.9]}})
    assert cased.predict_proba(["PARIS"])[0] == ("O", 0.5)


def test_bad_format_rejected():
    with pytest.raises(ValueError, match="unsupported format"):
        LexiconSequencer({"format": "nope"})


def test_neural_models_fail_loudly(tmp_path):
    class F(dict):
        def __missing__(self, k):
            return ""
    with pytest.raises(ImportError, match="flair"):
        load_sequencer(str(tmp_path), F(sequencer="tagger.pt"))
    with pytest.raises(ImportError, match="CRFSuite"):
        load_sequencer(str(tmp_path), F(sequencer="tagger.crf"))
    with pytest.raises(IOError, match="missing"):
        load_sequencer(str(tmp_path), F(sequencer="tagger.json"))


# ---------------------------------------------------------------------
# kernel integration on a model variant
# ---------------------------------------------------------------------

SENT = {
    "gadget": "1\tThe\tthe\tDET\tDET\t_\t2\tdet\t_\t_\n"
              "2\tgadget\tgadget\tNOUN\tNOUN\t_\t3\tnsubj\t_\t_\n"
              "3\thummed\thum\tVERB\tVERB\t_\t0\troot\t_\t_\n"
              "4\t.\t.\tPUNCT\tPUNCT\t_\t3\tpunct\t_\t_\n",
    "zorblax": "1\tThe\tthe\tDET\tDET\t_\t2\tdet\t_\t_\n"
               "2\tzorblax\tzorblax\tNOUN\tNOUN\t_\t3\tnsubj\t_\t_\n"
               "3\tarrived\tarrive\tVERB\tVERB\t_\t0\troot\t_\t_\n"
               "4\t.\t.\tPUNCT\tPUNCT\t_\t3\tpunct\t_\t_\n",
    "it": "1\tIt\tit\tPRON\tPRON\t_\t2\tnsubj\t_\t_\n"
          "2\tvanished\tvanish\tVERB\tVERB\t_\t0\troot\t_\t_\n"
          "3\t.\t.\tPUNCT\tPUNCT\t_\t2\tpunct\t_\t_\n",
    "bank": "1\tThe\tthe\tDET\tDET\t_\t2\tdet\t_\t_\n"
            "2\tbank\tbank\tNOUN\tNOUN\t_\t3\tnsubj\t_\t_\n"
            "3\tflooded\tflood\tVERB\tVERB\t_\t0\troot\t_\t_\n"
            "4\t.\t.\tPUNCT\tPUNCT\t_\t3\tpunct\t_\t_\n",
}


@pytest.fixture(scope="module")
def seq_model(tmp_path_factory):
    """models/web overlay: lexicon sequencer + nonref/override config;
    'bank' made ambiguous (organization|place) for the disambiguation
    preference test."""
    dst = str(tmp_path_factory.mktemp("model") / "web_seq")
    os.makedirs(dst)
    with open(os.path.join(dst, "config.ini"), "w") as fh:
        fh.write("[model]\nbase=%s\n\n[main]\n"
                 % os.path.relpath(DEFAULT_MODEL_DIR, dst))
        fh.write("sequencer=demo_seq.json\n"
                 "sequencer_nonref_thresh=0.85\n"
                 "sequencer_nonref_pos=/^(NOUN)$/\n"
                 "sequencer_nonref_forbidden_childfunc=/^(appos)$/\n"
                 "sequencer_override_thresh=0.9\n")
    with open(os.path.join(DEFAULT_MODEL_DIR, "entity_heads.tab")) as fh:
        heads = fh.read()
    with open(os.path.join(dst, "entity_heads.tab"), "w") as fh:
        fh.write(heads + "bank\tplace\triver-bank/inanim\t4\n")
    spec = {"format": "xrenner-portable-sequencer-v1",
            "default": ["O", 0.5],
            "tags": {"gadget": ["O", 0.95],     # confident nonreferential
                     "zorblax": ["animal", 0.95],  # above override thresh
                     "it": ["organization", 0.6],  # pronoun fallback
                     "bank": ["place", 0.7]}}      # disambiguation pref
    json.dump(spec, open(os.path.join(dst, "demo_seq.json"), "w"))
    return dst


def ents(model_dir=None, doc="gadget", **kw):
    lex = load_lex(model_dir, **kw)
    res = analyze_document("seq_demo", SENT[doc], lex)
    return [(m["text"], m["entity"]) for m in res.mentions]


def test_stock_model_baselines():
    assert ents(doc="gadget") == [("The gadget", "abstract")]
    assert ents(doc="zorblax") == [("The zorblax", "abstract")]
    assert ents(doc="it") == [("It", "abstract")]
    assert ents(doc="bank") == [("The bank", "organization")]


def test_o_suppression_removes_markable(seq_model):
    assert ents(seq_model, "gadget") == []


def test_confident_tag_overrides_entity(seq_model):
    assert ents(seq_model, "zorblax") == [("The zorblax", "animal")]


def test_pronoun_fallback_uses_tag_without_threshold(seq_model):
    # proba 0.6 < override thresh, but the pronoun branch takes any
    # non-"O" tag (reference xrenner_marker.py:152-156)
    assert ents(seq_model, "it") == [("It", "organization")]


def test_disambiguation_prefers_sequencer_among_alternatives(seq_model):
    # 'bank' is organization|place in the variant gazetteer; tag 'place'
    # (0.7, below override thresh) wins the disambiguation preference
    assert ents(seq_model, "bank") == [("The bank", "place")]


def test_no_seq_switch_disables_everything(seq_model):
    assert ents(seq_model, "gadget", no_seq=True) == [("The gadget", "abstract")]
    assert ents(seq_model, "zorblax", no_seq=True) == [("The zorblax", "abstract")]


def test_sequencer_lex_broadcasts_to_executors(spark, seq_model):
    """A sequencer-enabled LexModel must survive pickling into a Spark
    broadcast and tag identically on executors."""
    lex = load_lex(seq_model)
    bcast = spark.sparkContext.broadcast(lex)

    def run(pair):
        from xrenner_spark.kernel import analyze_document
        name, doc = pair
        res = analyze_document(name, doc, bcast.value)
        return tuple((m["text"], m["entity"]) for m in res.mentions)

    out = set(spark.sparkContext.parallelize(
        [("d_%d" % i, SENT["zorblax"]) for i in range(8)], 4).map(run).collect())
    assert out == {(("The zorblax", "animal"),)}


# ---------------------------------------------------------------------
# committed web_seq model vs committed reference-engine export
# ---------------------------------------------------------------------

REF_SEQ_FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "ref_mentions_seq_500.parquet")


def test_web_seq_matches_reference_export():
    """Mention-exact parity on a 60-doc slice of the committed
    reference+sequencer export (scripts/make_ref_mentions_seq.py): the
    shipped models/web_seq variant must reproduce the reference engine
    running with the identical lexicon tagger attached."""
    import pyarrow.parquet as pq

    from xrenner_spark.corpus import build_document, build_page

    ref_rows = pq.read_table(REF_SEQ_FIXTURE).to_pylist()
    by_url = {}
    for r in ref_rows:
        by_url.setdefault(r["url"], []).append(r)

    lex = load_lex(os.path.join(os.path.dirname(DEFAULT_MODEL_DIR), "web_seq"))
    n_divergent_from_stock = 0
    stock = load_lex()
    for doc_id in range(60):
        url = build_page(doc_id)["url"]
        conllu = build_document(doc_id)["conllu"]
        res = analyze_document(url, conllu, lex)
        ours = sorted(
            (m["start"], m["end"], m["text"], m["entity"], m["agree"],
             m["form"], m["coref_type"], m["group_id"], m["sent_num"])
            for m in res.mentions)
        theirs = sorted(
            (int(r["mark_id"].split("_")[0]), int(r["mark_id"].split("_")[1]),
             r["text"], r["entity"], r["agree"], r["form"], r["coref_type"],
             r["group_id"], r["sent_num"]) for r in by_url.get(url, []))
        assert ours == theirs, "web_seq parity broke on %s" % url
        base = analyze_document(url, conllu, stock)
        if ([(m["text"], m["entity"]) for m in base.mentions]
                != [(m["text"], m["entity"]) for m in res.mentions]):
            n_divergent_from_stock += 1
    # the fixture must actually exercise the sequencer, not mirror stock
    assert n_divergent_from_stock >= 10
