"""Serialization parity: SGML / CoNLL / OntoNotes / test-format output must
be byte-identical to the reference engine's serializers on every fixture
document (golden strings captured by scripts/make_goldens.py)."""

import glob
import io
import json
import os

import pytest

from xrenner_spark import load_lex
from xrenner_spark.kernel import analyze_document
from xrenner_spark.output import (output_conll, output_conll_sent,
                                  output_html, output_onto, output_paula,
                                  output_sgml, output_testcase,
                                  output_webanno, output_webannotsv)

HERE = os.path.dirname(os.path.abspath(__file__))
DOCS = os.path.join(HERE, "fixtures", "docs")
GOLDENS = os.path.join(HERE, "fixtures", "goldens")


@pytest.fixture(scope="module")
def lex():
    return load_lex()


#: the bundled model directory, relative to the checkout root
MODEL_REL = os.path.join("xrenner_spark", "models", "web")


def _at_checkout(unittest_golden, model_dir):
    """The golden "unittest" dump with the absolute model path it was
    recorded with (the recording checkout's MODEL_REL) replaced by this
    checkout's ``model_dir``; the serializer itself is unchanged."""
    recorded = [line for line in unittest_golden.split("\n")
                if line.startswith("model:")]
    assert len(recorded) == 1
    path = recorded[0][len("model:"):]
    assert os.path.isabs(path) and path.endswith(os.sep + MODEL_REL)
    return unittest_golden.replace("\nmodel:" + path + "\n",
                                   "\nmodel:" + model_dir + "\n", 1)


def cases():
    return sorted(glob.glob(os.path.join(GOLDENS, "*.json")))


@pytest.mark.parametrize("golden_path", cases(),
                         ids=[os.path.basename(p)[:-5] for p in cases()])
def test_serializations_match_reference(golden_path, lex):
    golden = json.load(io.open(golden_path, encoding="utf8"))
    if "formats" not in golden:
        pytest.skip("golden lacks format dumps")
    parse = io.open(os.path.join(DOCS, golden["doc"] + ".conllu"),
                    encoding="utf8").read()
    result = analyze_document(golden["doc"], parse, lex)

    assert output_sgml(result) == golden["formats"]["sgml"]
    assert output_conll(result, "untitled") == golden["formats"]["conll"]
    if "conll_sent" in golden["formats"]:
        assert output_conll_sent(result, "untitled") == \
            golden["formats"]["conll_sent"]
    assert output_onto(result, "untitled") == golden["formats"]["onto"]

    # the reference joins the split input lines back for the test format;
    # it embeds the parse AS CONSUMED by the engine, i.e. post-depedit
    # (xrenner_xrenner.py:108-109 rewrites before anything else)
    ref_parse = parse.replace("\r", "")
    if lex.depedit is not None:
        ref_parse = lex.depedit.run(ref_parse)
    mine = output_testcase(result, ref_parse, model=lex.model_dir)
    assert mine == _at_checkout(golden["formats"]["unittest"], lex.model_dir)

    # round-3 sinks: viz HTML, WebAnno XMI + TSV, PAULA standoff
    if "html" in golden["formats"]:
        assert output_html(result) == golden["formats"]["html"]
        assert output_webanno(result) == golden["formats"]["webanno"]
        assert output_webannotsv(result) == golden["formats"]["webannotsv"]
        assert output_paula(result, golden["doc"]) == golden["formats"]["paula"]


DOCS_PP = os.path.join(HERE, "fixtures", "docs_pp")
GOLDENS_PP = os.path.join(HERE, "fixtures", "goldens_pp")
MODEL_PP = os.path.join(HERE, "..", "xrenner_spark", "models", "web_pp")


def cases_pp():
    return sorted(glob.glob(os.path.join(GOLDENS_PP, "*.json")))


@pytest.fixture(scope="module")
def lex_pp():
    return load_lex(MODEL_PP)


@pytest.mark.parametrize("golden_path", cases_pp(),
                         ids=[os.path.basename(p)[:-5] for p in cases_pp()])
def test_serializations_match_reference_pp(golden_path, lex_pp):
    """All 9 serializations stay byte-identical with postprocess_parser
    enabled (goldens regenerated through the reference with web_pp)."""
    golden = json.load(io.open(golden_path, encoding="utf8"))
    parse = io.open(os.path.join(DOCS_PP, golden["doc"] + ".conllu"),
                    encoding="utf8").read()
    result = analyze_document(golden["doc"], parse, lex_pp)
    f = golden["formats"]
    assert output_sgml(result) == f["sgml"]
    assert output_conll(result, "untitled") == f["conll"]
    assert output_conll_sent(result, "untitled") == f["conll_sent"]
    assert output_onto(result, "untitled") == f["onto"]
    assert output_html(result) == f["html"]
    assert output_webanno(result) == f["webanno"]
    assert output_webannotsv(result) == f["webannotsv"]
    assert output_paula(result, golden["doc"]) == f["paula"]
