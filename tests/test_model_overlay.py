"""Model overlays: a model directory whose config.ini names a base model
(``[model] base=``) holds only what differs from it.  Config keys merge
base first, every other file is looked up overlay first, and the bundled
variants (models/web_pp, models/web_seq) are such overlays on models/web."""

import configparser
import glob
import os
import pickle
import re
import zipfile

import pytest

from xrenner_spark.corpus import build_document
from xrenner_spark.kernel import analyze_document
from xrenner_spark.lex import (DEFAULT_MODEL_DIR, _model_layers, flatten_model,
                                load_lex)
from xrenner_spark.rules import CorefRule

MODELS = os.path.dirname(DEFAULT_MODEL_DIR)


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf8") as fh:
        fh.write(text)


def _overlay(path, base, main="", files=None):
    _write(os.path.join(path, "config.ini"),
           "[model]\nbase=%s\n\n[main]\n%s" % (base, main))
    for name, text in (files or {}).items():
        _write(os.path.join(path, name), text)
    return str(path)


def _config(model_dir):
    config = configparser.RawConfigParser()
    with open(os.path.join(model_dir, "config.ini"), encoding="utf8") as fh:
        config.read_file(fh)
    return config


# ---------------------------------------------------------------------
# semantics
# ---------------------------------------------------------------------

def test_overlay_merges_config_and_files(tmp_path):
    base = load_lex()
    over = _overlay(tmp_path / "over", os.path.relpath(DEFAULT_MODEL_DIR, tmp_path / "over"),
                    "postprocess_parser=True\nbrand_new_key=7\n",
                    {"entity_heads.tab": "zorblax\tanimal\tbeast/inanim\t3\n"})
    lex = load_lex(over)
    assert lex.model_dir == over  # the overlay's own directory
    # an overridden key keeps its base position, a new key is appended
    assert base.filters["postprocess_parser"] is False
    assert lex.filters["postprocess_parser"] is True
    assert list(lex.filters)[:-1] == list(base.filters)
    assert list(lex.filters)[-1] == "brand_new_key"
    assert lex.filters["brand_new_key"] == 7
    # a file in the overlay replaces the base's whole file ...
    assert lex.entity_heads == {"zorblax": [("animal", "beast/inanim", 3)]}
    # ... and every other file is inherited
    assert lex.entities == base.entities
    assert lex.pronouns == base.pronouns
    assert [r.rule_num for r in lex.speaker_rules] == \
        [r.rule_num for r in base.speaker_rules]
    assert lex.depedit is not None


def test_override_and_sequencer_resolve_through_layers(tmp_path):
    """Two overlays deep: the middle layer holds override.ini and the
    sequencer file, the top layer holds neither and still finds both."""
    mid = _overlay(tmp_path / "mid", os.path.relpath(DEFAULT_MODEL_DIR, tmp_path / "mid"),
                   "sequencer=demo_seq.json\n",
                   {"override.ini": "[strict]\nmax_suffix_length=2\n",
                    "demo_seq.json": '{"format": "xrenner-portable-sequencer-v1",'
                                     ' "default": ["O", 0.5], "tags": {}}'})
    top = _overlay(tmp_path / "top", "../mid")
    assert _model_layers(top) == [top, mid, os.path.abspath(DEFAULT_MODEL_DIR)]
    lex = load_lex(top, override="strict")
    assert lex.filters["max_suffix_length"] == 2
    assert load_lex(top).filters["max_suffix_length"] == 4
    assert lex.sequencer is not None
    assert load_lex(top, no_seq=True).sequencer is None


def test_missing_base_raises_naming_path(tmp_path):
    over = _overlay(tmp_path / "over", "../no_such_model")
    with pytest.raises(IOError, match=re.escape(str(tmp_path / "no_such_model"))):
        load_lex(over)


def test_base_chain_loop_rejected(tmp_path):
    _overlay(tmp_path / "a", "../b")
    _overlay(tmp_path / "b", "../a")
    with pytest.raises(IOError, match="loops"):
        load_lex(str(tmp_path / "a"))


# ---------------------------------------------------------------------
# ship path: an overlay inside a zipped package finds its base there
# ---------------------------------------------------------------------

def test_web_seq_loads_from_zipped_package(tmp_path):
    zpath = str(tmp_path / "xkg.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for name in ("web", "web_seq"):
            for path in glob.glob(os.path.join(MODELS, name, "*")):
                zf.write(path, "xrenner_spark/models/%s/%s"
                         % (name, os.path.basename(path)))
    dir_lex = load_lex(os.path.join(MODELS, "web_seq"))
    zip_lex = load_lex(os.path.join(zpath, "xrenner_spark", "models", "web_seq"))
    assert pickle.dumps(zip_lex.filters) == pickle.dumps(dir_lex.filters)
    assert zip_lex.entity_heads == dir_lex.entity_heads
    assert "coach" in zip_lex.entity_heads  # the overlay's own rows
    assert zip_lex.depedit is not None      # a base-only file
    assert vars(zip_lex.sequencer) == vars(dir_lex.sequencer)
    for doc_id in range(8):
        conllu = build_document(doc_id)["conllu"]
        assert (analyze_document("d", conllu, zip_lex).mentions
                == analyze_document("d", conllu, dir_lex).mentions)


# ---------------------------------------------------------------------
# flattened copy: one full model for readers that know no overlays
# ---------------------------------------------------------------------

def _comparable(value):
    """One LexModel field in a form that compares by content: coref
    rules by their attributes (their matchers are closures), objects
    without an equality by their pickle."""
    if isinstance(value, list) and value and isinstance(value[0], CorefRule):
        return [{k: repr(v) for k, v in vars(rule).items() if not callable(v)}
                for rule in value]
    if hasattr(value, "__dict__"):
        return pickle.dumps(value)
    return value


@pytest.mark.parametrize("name", ["web_pp", "web_seq"])
def test_flattened_overlay_loads_like_the_overlay(tmp_path, name):
    overlay = os.path.join(MODELS, name)
    flat = flatten_model(overlay, str(tmp_path / name))
    assert _model_layers(flat) == [flat]
    assert not _config(flat).has_section("model")
    assert set(os.listdir(flat)) == {
        f for layer in _model_layers(overlay) for f in os.listdir(layer)}
    got, want = load_lex(flat), load_lex(overlay)
    assert pickle.dumps(got.filters) == pickle.dumps(want.filters)
    for key, value in vars(want).items():
        if key not in ("model_dir", "filters"):
            assert _comparable(vars(got)[key]) == _comparable(value), key
    for doc_id in range(8):
        conllu = build_document(doc_id)["conllu"]
        assert (analyze_document("d", conllu, got).mentions
                == analyze_document("d", conllu, want).mentions)


# ---------------------------------------------------------------------
# drift guard: bundled overlays hold only what differs from their base
# ---------------------------------------------------------------------

BUNDLED_OVERLAYS = sorted(
    d for d in glob.glob(os.path.join(MODELS, "*"))
    if os.path.isfile(os.path.join(d, "config.ini"))
    and _config(d).has_option("model", "base"))


def test_bundled_variants_are_overlays():
    assert [os.path.basename(d) for d in BUNDLED_OVERLAYS] == ["web_pp", "web_seq"]
    assert sorted(os.listdir(os.path.join(MODELS, "web_pp"))) == ["config.ini"]
    assert sorted(os.listdir(os.path.join(MODELS, "web_seq"))) == \
        ["config.ini", "entity_heads.tab", "sequencer.json"]


@pytest.mark.parametrize("overlay", BUNDLED_OVERLAYS, ids=os.path.basename)
def test_bundled_overlay_repeats_nothing_of_its_base(overlay):
    base_layers = _model_layers(overlay)[1:]
    for name in os.listdir(overlay):
        if name == "config.ini":
            continue
        for layer in base_layers:
            base_file = os.path.join(layer, name)
            if os.path.isfile(base_file):
                with open(base_file, "rb") as a, \
                        open(os.path.join(overlay, name), "rb") as b:
                    assert a.read() != b.read(), \
                        "%s repeats %s" % (name, base_file)
                break
    base = configparser.RawConfigParser()
    for layer in reversed(base_layers):
        with open(os.path.join(layer, "config.ini"), encoding="utf8") as fh:
            base.read_file(fh)
    for key, value in _config(overlay).items("main"):
        assert not (base.has_option("main", key) and base.get("main", key) == value), \
            "%s=%s repeats the base's value" % (key, value)
