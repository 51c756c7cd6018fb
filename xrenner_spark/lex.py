"""Lexicon / model loader for the PySpark KG-construction engine.

Loads an externally-configurable model directory (the same TSV + ini
contract the reference engine consumes; see reference
xrenner/modules/xrenner_lex.py:31-178 for the semantics we reproduce)
into a single read-only, picklable ``LexModel`` that is broadcast once
per Spark executor.  All per-document mutable state (dynamic hasa
counts, pair caches, the ``last``-markable register) deliberately lives
in the kernel's per-document state, never here — this is what makes the
distributed run order-independent (SURVEY.md §7.2 point 2).
"""

from __future__ import annotations

import configparser
import csv
import io
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Set, Tuple

from .rules import CorefRule

class CachedPattern:
    """Compiled-regex wrapper that memoizes ``match()``/``search()``
    results per input string.

    The kernel applies a small, fixed set of config regexes to a heavily
    repeating vocabulary (POS tags, dependency functions, agreement
    classes, frequent token strings), so the overwhelming majority of
    regex evaluations are repeats of earlier ones; match objects are
    immutable, which makes the memo fully transparent to callers that
    test truthiness or read groups.  A plain dict with a try/except hit
    path measured faster than ``functools.lru_cache`` here (single-str
    key, no tuple boxing).  The memo is size-bounded (open-vocabulary
    token text cannot grow it without limit on a long-lived executor)
    and dropped on pickle — a broadcast LexModel ships only the pattern
    source, each worker re-warms its own memo."""

    __slots__ = ("_re", "pattern", "flags", "_match_memo", "_search_memo")
    _CAP = 32768

    def __init__(self, regex):
        self._re = regex
        self.pattern = regex.pattern
        self.flags = regex.flags
        self._match_memo: dict = {}
        self._search_memo: dict = {}

    def match(self, s):
        try:
            return self._match_memo[s]
        except KeyError:
            r = self._re.match(s)
            memo = self._match_memo
            if len(memo) < self._CAP:
                memo[s] = r
            return r

    def search(self, s):
        try:
            return self._search_memo[s]
        except KeyError:
            r = self._re.search(s)
            memo = self._search_memo
            if len(memo) < self._CAP:
                memo[s] = r
            return r

    def fullmatch(self, s):
        return self._re.fullmatch(s)

    def sub(self, repl, s, count=0):
        return self._re.sub(repl, s, count)

    def findall(self, s):
        return self._re.findall(s)

    def __reduce__(self):
        return (_rebuild_cached_pattern, (self.pattern, self.flags))


def _rebuild_cached_pattern(pattern: str, flags: int) -> "CachedPattern":
    return CachedPattern(re.compile(pattern, flags))


NEVER_MATCH = CachedPattern(re.compile(r"$^"))

DEFAULT_MODEL_DIR = os.path.join(os.path.dirname(__file__), "models", "web")


class Filters(dict):
    """Config map that yields '' for unknown keys (reference keeps a
    defaultdict(str) for the same purpose, xrenner_lex.py:346)."""

    def __missing__(self, key):  # pragma: no cover - trivial
        return ""


#: one gazetteer row for entities.tab / entity_heads.tab:
#: (entity, subclass_raw, freq) where subclass_raw may carry "/agree"
EntityEntry = Tuple[str, str, int]


def _type_config_value(raw: str):
    """Apply the model config typing contract: /regex/, bool, int, float,
    else plain string (reference xrenner_lex.py:392-402)."""
    if raw.startswith("/") and raw.endswith("/") and len(raw) >= 2:
        return CachedPattern(re.compile(raw[1:-1]))
    if raw in ("True", "False"):
        return raw == "True"
    if raw.isdigit():
        return int(raw)
    if raw.count(".") == 1 and raw.replace(".", "").isdigit():
        return float(raw)
    return raw


def _read_rows(path: str) -> List[List[str]]:
    """TSV rows with backslash escapes, skipping blank and #-comment lines."""
    out = []
    with io.open(path, "r", encoding="utf8") as fh:
        for row in csv.reader(fh, delimiter="\t", escapechar="\\",
                              quoting=csv.QUOTE_NONE):
            if not row or len(row[0]) == 0 or row[0].startswith("#"):
                continue
            out.append(row)
    return out


@dataclass
class LexModel:
    """Immutable-after-load model bundle: gazetteers, statistics, config
    filters and compiled coreference rules."""

    model_dir: str
    filters: Filters = field(default_factory=Filters)

    entities: Dict[str, List[EntityEntry]] = field(default_factory=dict)
    entity_heads: Dict[str, List[EntityEntry]] = field(default_factory=dict)
    entity_sums: Dict[str, int] = field(default_factory=dict)
    pronouns: Dict[str, List[str]] = field(default_factory=dict)
    names: Dict[str, str] = field(default_factory=dict)
    first_names: Dict[str, str] = field(default_factory=dict)
    last_names: Set[str] = field(default_factory=set)
    stop_list: Set[str] = field(default_factory=set)
    open_close_punct: Dict[str, str] = field(default_factory=dict)
    open_close_punct_rev: Dict[str, str] = field(default_factory=dict)
    entity_mods: Dict[str, List[Tuple[str, str]]] = field(default_factory=dict)
    mod_atoms: Dict[str, str] = field(default_factory=dict)
    entity_deps: Dict[str, Dict[str, Dict[str, int]]] = field(default_factory=dict)
    lex_deps: Dict[str, Dict[str, Dict[str, int]]] = field(default_factory=dict)
    hasa: Dict[str, Dict[str, int]] = field(default_factory=dict)
    coref: Dict[str, str] = field(default_factory=dict)
    numbers: Dict[str, List[str]] = field(default_factory=dict)
    affix_tokens: Dict[str, str] = field(default_factory=dict)
    antonyms: Dict[str, Set[str]] = field(default_factory=dict)
    isa: Dict[str, List[str]] = field(default_factory=dict)
    similar: Dict[str, List[str]] = field(default_factory=dict)
    nominalizations: Dict[str, Dict[str, int]] = field(default_factory=dict)
    freqs: Dict[str, int] = field(default_factory=dict)
    atoms: Dict[str, str] = field(default_factory=dict)
    exceptional_new_modifiers: Dict[str, int] = field(default_factory=dict)

    pos_agree_mappings: Dict[str, str] = field(default_factory=dict)
    morph_index: Dict[str, Dict[str, int]] = field(default_factory=dict)
    func_substitutes_forward: Dict[str, List[str]] = field(default_factory=dict)
    func_substitutes_backward: Dict[str, List[str]] = field(default_factory=dict)
    lemma_rules: List[Tuple[re.Pattern, re.Pattern, str]] = field(default_factory=list)
    morph_rules: List[Tuple[re.Pattern, str]] = field(default_factory=list)
    rm_nested_entities: List[Tuple[str, str, str]] = field(default_factory=list)

    speaker_rules: List[CorefRule] = field(default_factory=list)
    non_speaker_rules: List[CorefRule] = field(default_factory=list)

    # portable-JSON coref classifiers keyed by rule clf_name (reference
    # unpickles sklearn blobs into lex.classifiers, xrenner_lex.py:526-563;
    # see kernel/classify.py for the pickle-free format)
    classifiers: Dict[str, object] = field(default_factory=dict)

    # sequence tagger (kernel/sequence.py), or None — reference
    # xrenner_lex.py:165-177 loads one when config.ini sets sequencer=
    sequencer: Optional[object] = None

    # depedit.ini pre-rewriting engine (kernel/depedit_lite.DepEditLite),
    # or None when the model ships no config — reference gates identically
    # on "depedit.ini" in model_files (xrenner_xrenner.py:39-43)
    depedit: Optional[object] = None

    # external entity oracle: {sentence_text: {(start, end): entity}} with
    # sentence-relative 0-based token spans, loaded by read_oracle().
    # Populate BEFORE broadcasting — like every other table it is
    # read-only inside the kernel (per-doc hit counters live on DocState)
    entity_oracle: Optional[Dict[str, Dict[Tuple[int, int], str]]] = None

    # training-data dump sink toggle (reference gates on lex.dump being a
    # file handle, xrenner_compatible.py:598; here rows accumulate on the
    # per-document state and stream out via pipeline.training_dump_stage)
    dump: bool = False

    # ------------------------------------------------------------------
    # token-level helpers used by the kernel
    # ------------------------------------------------------------------
    def stop_first_words(self) -> Set[str]:
        """Lazily-built index of the first word of every stop-list
        n-gram.  A token whose lowered text is not in this set cannot
        start any stop n-gram, so find_stop_zones skips its candidate
        window entirely (the common case — pure derived cache, no
        semantic content)."""
        cached = self.__dict__.get("_stop_first")
        if cached is None:
            cached = {entry.split(" ")[0] for entry in self.stop_list}
            self.__dict__["_stop_first"] = cached
        return cached

    def affix_max_words(self) -> int:
        """Longest affix-token entry in WORDS (lazily derived, like
        stop_first_words).  A candidate prefix/suffix longer than this can
        never be an affix_tokens key, so the accumulation loops in
        mentions.py stop after this many tokens instead of walking the
        whole span/sentence (r6 — pure derived cache, no semantic
        content)."""
        cached = self.__dict__.get("_affix_max_words")
        if cached is None:
            cached = max((entry.count(" ") + 1 for entry in self.affix_tokens),
                         default=0)
            self.__dict__["_affix_max_words"] = cached
        return cached

    def lemmatize(self, text: str, pos: str) -> str:
        """Fallback lemmatizer from lemma_rules + auto_lower_lemma policy
        (reference xrenner_lex.py:436-456)."""
        lemma = text
        for pos_re, text_re, repl in self.lemma_rules:
            if pos_re.search(pos) is not None:
                lemma = text_re.sub(repl, lemma)
        policy = self.filters["auto_lower_lemma"]
        if policy == "all":
            return lemma.lower()
        if policy == "except_all_caps":
            return lemma if lemma.upper() == lemma else lemma.lower()
        return lemma

    def process_morph(self, morph: str) -> str:
        """Normalize a FEATS string through the morph_rules regex cascade
        (reference xrenner_lex.py:478-490)."""
        for matcher, repl in self.morph_rules:
            morph = matcher.sub(repl, morph)
        return morph

    def read_oracle(self, oracle_file: str, as_text: bool = False):
        """Load external entity predictions that override the system's
        entity resolution span-for-span (reference xrenner_lex.py:602-619):
        blank-line-separated 3-line blocks — sentence text, an ignored
        middle line, and '|'-separated "start,end entity" predictions
        with 1-based inclusive-exclusive token numbers (the reference
        stores end-1, reproduced)."""
        self.entity_oracle = {}
        if not as_text:
            oracle_file = io.open(oracle_file, encoding="utf8").read()
        for sent in oracle_file.strip().split("\n\n"):
            parts = sent.strip().split("\n")
            if len(parts) == 3:
                text = parts[0]
                for pred in parts[-1].split("|"):
                    toks, entity = pred.split()
                    start, end = toks.split(",")
                    self.entity_oracle.setdefault(text, {})[
                        (int(start), int(end) - 1)] = entity


def _merged_config(layers: List[str]) -> configparser.RawConfigParser:
    """Every layer's config.ini, base first, in one parser: an overlay key
    replaces its base's value in place, a new key is appended."""
    config = configparser.RawConfigParser()
    for layer in reversed(layers):
        with io.open(os.path.join(layer, "config.ini"), encoding="utf8") as fh:
            config.read_file(fh)
    return config


def _load_filters(layers: List[str], path,
                  override: Optional[str] = None) -> Filters:
    config = _merged_config(layers)
    filters = Filters()
    # back-compat defaults (reference xrenner_lex.py:348-352)
    filters["neg_func"] = NEVER_MATCH
    filters["non_extend_pos"] = NEVER_MATCH
    filters["core_infixes"] = NEVER_MATCH
    filters["score_thresh"] = 0.5
    # per-corpus override.ini section (reference xrenner_lex.py:356-386).
    # Reference quirk kept: only options ALSO present in [main] are
    # overridden — keys that appear solely in the override section are
    # silently ignored (the loop iterates main's options)
    ovrd = None
    if override:
        ovrd = configparser.RawConfigParser()
        with io.open(path("override.ini"), encoding="utf8") as fh:
            ovrd.read_file(fh)
        if not ovrd.has_section(override):
            raise IOError("No section %s in override.ini in model %s"
                          % (override, layers[0]))
    for option in config.options("main"):
        if ovrd is not None and ovrd.has_option(override, option):
            filters[option] = _type_config_value(ovrd.get(override, option))
        else:
            filters[option] = _type_config_value(config.get("main", option))
    # agree->entity shortcut map parsed from "agree>entity;..." syntax.
    # NB: the reference keeps a literal {"none": "none"} entry from the
    # conventional none>none placeholder (xrenner_lex.py:407-415), and
    # because default_agree is also "none", the coreference candidate
    # prune (xrenner_coref.py:128-130) then removes every candidate whose
    # entity != "none" for default-agree anaphors.  That quirk is
    # semantically load-bearing — dropping the entry diverged on 8/500
    # sweep documents — so it is kept verbatim.
    mapping_raw = filters["agree_entity_mapping"]
    ent_map: Dict[str, str] = {}
    if isinstance(mapping_raw, str) and ">" in mapping_raw:
        for pair in mapping_raw.split(";"):
            key, val = pair.split(">")
            ent_map[key] = val
    filters["agree_entity_mapping"] = ent_map
    return filters


_ZIP_EXTRACT_MEMO: dict = {}


def _safe_members(names) -> list:
    """Reject zip members that would escape the extraction dir (zip-slip:
    absolute paths or ``..`` components) — model archives are user-
    supplied input."""
    bad = [m for m in names
           if m.startswith(("/", "\\")) or os.path.isabs(m)
           or ".." in m.replace("\\", "/").split("/")]
    if bad:
        raise IOError("refusing zip with unsafe member paths: %s"
                      % ", ".join(sorted(bad)[:3]))
    return list(names)


def _cleanup_tempdir(path: str) -> None:
    import atexit
    import shutil
    atexit.register(shutil.rmtree, path, ignore_errors=True)


def _zip_member_dir(path: str) -> Optional[str]:
    """Resolve a path that points INSIDE a zip archive (the spark-submit
    --py-files ship path: DEFAULT_MODEL_DIR becomes
    .../xkg.zip/xrenner_spark/models/web when the package is imported
    from the shipped zip).  Walks up to the nearest existing ancestor;
    if it is a zipfile containing the member subtree, extracts that
    subtree to a tempdir (memoized per process) and returns it."""
    import tempfile
    import zipfile
    inner_parts = []
    probe = path
    while not os.path.exists(probe):
        probe, tail = os.path.split(probe)
        if not tail:
            return None
        inner_parts.insert(0, tail)
    if not inner_parts or not os.path.isfile(probe) \
            or not zipfile.is_zipfile(probe):
        return None
    prefix = "/".join(inner_parts) + "/"
    key = (probe, prefix)
    if key in _ZIP_EXTRACT_MEMO:
        return _ZIP_EXTRACT_MEMO[key]
    with zipfile.ZipFile(probe) as zf:
        members = [m for m in zf.namelist() if m.startswith(prefix)]
        if not members:
            return None
        tmp = tempfile.mkdtemp(prefix="xrm_zip_")
        _cleanup_tempdir(tmp)
        zf.extractall(tmp, _safe_members(members))
    out = os.path.join(tmp, *inner_parts)
    _ZIP_EXTRACT_MEMO[key] = out
    return out


def _model_dir(model_dir: str) -> str:
    """Resolve a model path to a directory: a directory as is, a zipped
    ``.xrm`` model — the format distributed models ship in (reference
    xrenner_lex.py:87-99 reads the same files through ZipFile handles;
    we unpack to a tempdir and load identically) — or a path inside a
    zipped package."""
    model_dir = os.path.abspath(model_dir)
    if not os.path.isdir(model_dir) and not os.path.isfile(model_dir):
        # --py-files: the bundled default model lives inside the shipped
        # zip; extract its subtree once per process
        extracted = _zip_member_dir(model_dir)
        if extracted is not None:
            model_dir = extracted
    if os.path.isfile(model_dir):
        import tempfile
        import zipfile
        if not zipfile.is_zipfile(model_dir):
            raise IOError("model path is a file but not a zip model: %s"
                          % model_dir)
        tmp = tempfile.mkdtemp(prefix="xrm_model_")
        _cleanup_tempdir(tmp)
        with zipfile.ZipFile(model_dir) as zf:
            zf.extractall(tmp, _safe_members(zf.namelist()))
        model_dir = tmp
        if not os.path.isfile(os.path.join(tmp, "config.ini")):
            # zip wraps the model files in a single top-level folder
            subdirs = [d for d in os.listdir(tmp)
                       if os.path.isdir(os.path.join(tmp, d))]
            for d in subdirs:
                if os.path.isfile(os.path.join(tmp, d, "config.ini")):
                    model_dir = os.path.join(tmp, d)
                    break
    if not os.path.isdir(model_dir):
        raise IOError("model directory not found: %s" % model_dir)
    return model_dir


def _model_layers(model_dir: str) -> List[str]:
    """The directories of a model and of the models it overlays, overlay
    first.  An overlay's config.ini names its base in a ``[model]``
    section (``base=``, relative to the overlay's own path, so an overlay
    shipped inside a zip finds its base there too); the overlay directory
    holds only the files that differ from its base."""
    layers: List[str] = []
    while True:
        layer = _model_dir(model_dir)
        if layer in layers:
            raise IOError("model base chain loops at %s" % layer)
        layers.append(layer)
        config = configparser.RawConfigParser()
        with io.open(os.path.join(layer, "config.ini"), encoding="utf8") as fh:
            config.read_file(fh)
        if not config.has_option("model", "base"):
            return layers
        model_dir = os.path.join(model_dir, config.get("model", "base"))


def flatten_model(model_dir: str, out_dir: str) -> str:
    """Write ``model_dir`` — an overlay or a full model — to ``out_dir`` as
    one full model for readers that know no overlays (the reference
    engine): the merged config.ini without its ``[model]`` section, plus
    every file of every layer, the overlay's copy winning.  Returns
    ``out_dir``."""
    import shutil
    layers = _model_layers(model_dir)
    os.makedirs(out_dir, exist_ok=True)
    for layer in reversed(layers):  # base first, so overlay files win
        for name in os.listdir(layer):
            if name != "config.ini" and os.path.isfile(os.path.join(layer, name)):
                shutil.copyfile(os.path.join(layer, name), os.path.join(out_dir, name))
    config = _merged_config(layers)
    config.remove_section("model")
    with io.open(os.path.join(out_dir, "config.ini"), "w", encoding="utf8") as fh:
        config.write(fh, space_around_delimiters=False)
    return out_dir


def load_lex(model_dir: Optional[str] = None,
             rule_based: bool = False, no_seq: bool = False,
             override: Optional[str] = None) -> LexModel:
    """Load a model — a directory, a zipped ``.xrm`` model or an overlay
    on either (see _model_layers) — into a broadcastable LexModel."""
    layers = _model_layers(model_dir or DEFAULT_MODEL_DIR)

    def locate(name):
        """The layer holding model file ``name``, overlay first."""
        return next((d for d in layers if os.path.isfile(os.path.join(d, name))),
                    layers[0])

    def path(name):
        return os.path.join(locate(name), name)

    def have(name):
        return os.path.isfile(path(name))

    lex = LexModel(model_dir=layers[0],
                   filters=_load_filters(layers, path, override=override))
    f = lex.filters
    if rule_based:
        # the reference's -r switch forces the heuristic path regardless
        # of model config (xrenner_lex.py:106-107)
        f["use_classifiers"] = False

    # --- sequence tagger (xrenner_lex.py:165-177) ----------------------
    if not no_seq and f["sequencer"]:
        from .kernel.sequence import load_sequencer
        lex.sequencer = load_sequencer(locate(f["sequencer"]), f)
        if "sequencer_override_thresh" not in f:
            f["sequencer_override_thresh"] = 1.0  # prefer KB entries

    # --- entity gazetteers (quadruple readers, xrenner_lex.py:225-240) ---
    def read_entities(name, track_sums=False):
        table: Dict[str, List[EntityEntry]] = {}
        for row in _read_rows(path(name)):
            text, entity, subclass = row[0], row[1], row[2]
            if subclass.endswith("@"):
                subclass = subclass[:-1]
                lex.atoms[text] = entity
            if track_sums:
                lex.entity_sums[entity] = lex.entity_sums.get(entity, 0) + 1
            freq = int(row[3]) if len(row) > 3 and row[3].strip() else 0
            table.setdefault(text, []).append((entity, subclass, freq))
        return table

    if have("entities.tab"):
        lex.entities = read_entities("entities.tab")
    if have("entity_heads.tab"):
        lex.entity_heads = read_entities("entity_heads.tab", track_sums=True)

    # --- simple maps -------------------------------------------------
    if have("pronouns.tab"):
        for row in _read_rows(path("pronouns.tab")):
            lex.pronouns.setdefault(row[0], []).append(row[1])
    if have("names.tab"):
        lex.names = {r[0]: r[1] for r in _read_rows(path("names.tab"))}
    if have("stop_list.tab"):
        lex.stop_list = {r[0].lower() for r in _read_rows(path("stop_list.tab"))}
    if have("open_close_punct.tab"):
        lex.open_close_punct = {r[0]: r[1] for r in _read_rows(path("open_close_punct.tab"))}
        lex.open_close_punct_rev = {v: k for k, v in lex.open_close_punct.items()}
    if have("entity_mods.tab"):
        for row in _read_rows(path("entity_mods.tab")):
            mod, entity, subclass = row[0], row[1], row[2]
            if subclass.endswith("@"):
                subclass = subclass[:-1]
                lex.mod_atoms[mod] = entity
            lex.entity_mods.setdefault(mod, []).append((entity, subclass))
    for name, target in (("entity_deps.tab", "entity_deps"), ("lex_deps.tab", "lex_deps")):
        if have(name):
            table: Dict[str, Dict[str, Dict[str, int]]] = {}
            for row in _read_rows(path(name)):
                table.setdefault(row[0], {}).setdefault(row[1], {})[row[2]] = int(row[3])
            setattr(lex, target, table)
    if have("hasa.tab"):
        for row in _read_rows(path("hasa.tab")):
            lex.hasa.setdefault(row[0], {})[row[1]] = int(row[2])
    if have("coref.tab"):
        lex.coref = {r[0]: r[1] for r in _read_rows(path("coref.tab"))}
    if have("numbers.tab"):
        for row in _read_rows(path("numbers.tab")):
            lex.numbers.setdefault(row[0], []).append(row[1])
    if have("affix_tokens.tab"):
        lex.affix_tokens = {r[0]: r[1] for r in _read_rows(path("affix_tokens.tab"))}
    if have("antonyms.tab"):
        # symmetric expansion of each comma set (xrenner_lex.py:304-317)
        anto: Dict[str, Set[str]] = defaultdict(set)
        for row in _read_rows(path("antonyms.tab")):
            members = row[0].lower().split(",")
            for member in members:
                anto[member].update(m for m in members if m != member)
        lex.antonyms = dict(anto)
    if have("isa.tab"):
        for row in _read_rows(path("isa.tab")):
            lex.isa[row[0]] = [m.lower() for m in row[1].split(",")]
    if have("similar.tab"):
        lex.similar = {r[0]: r[1].split(",") for r in _read_rows(path("similar.tab"))}
    if have("nominalizations.tab"):
        for row in _read_rows(path("nominalizations.tab")):
            lex.nominalizations.setdefault(row[0], {})[row[1]] = int(row[2])
    if have("freqs.tab"):
        lex.freqs = {r[0]: int(r[1]) for r in _read_rows(path("freqs.tab"))}

    # --- derived indexes ---------------------------------------------
    # atoms: listed entities of the default atomic types are atomic spans
    # (xrenner_lex.py:268-285)
    atomic_setting = f["default_atomic_named_entities"]
    if atomic_setting != "none":
        if atomic_setting == "":
            atomic_setting = ",".join([f["place_def_entity"], f["person_def_entity"],
                                       f["organization_def_entity"], f["object_def_entity"]])
        atomic_types = set(atomic_setting.split(","))
        for text, entries in lex.entities.items():
            if entries and entries[0][0] in atomic_types:
                lex.atoms[text] = entries[0][0]
    if have("atoms.tab"):
        for row in _read_rows(path("atoms.tab")):
            lex.atoms[row[0]] = row[1]

    # first/last name split (xrenner_lex.py:287-302)
    for name, agree in lex.names.items():
        if " " in name:
            parts = name.split(" ")
            lex.first_names[parts[0]] = agree
            lex.last_names.add(parts[-1])

    if f["no_new_modifiers"] and f["use_new_modifier_exceptions"]:
        if have("new_modifiers.tab"):
            lex.exceptional_new_modifiers = {
                r[0]: int(r[1]) for r in _read_rows(path("new_modifiers.tab"))}
        for first in lex.first_names:
            lex.exceptional_new_modifiers[first] = 1

    # pos -> default agreement mapping "POS>class;..." (xrenner_lex.py:492-505)
    for rule in str(f["pos_agree_mapping"]).split(";"):
        if ">" in rule:
            pos, agree = rule.split(">")
            if pos != "none":
                lex.pos_agree_mappings[pos] = agree

    # affix->entity probability index over entity_heads
    # (xrenner_lex.py:577-600); substring lengths 1..max_suffix_length-1
    max_suffix = int(f["max_suffix_length"] or 0)
    for head, entries in lex.entity_heads.items():
        for i in range(1, max_suffix):
            if len(head) > i:
                substring = head[len(head) - i:]
                bucket = lex.morph_index.setdefault(substring, {})
                for entity, _sub, _freq in entries:
                    bucket[entity] = bucket.get(entity, 0) + 1

    # func substitutions "POS/match/repl;..." (xrenner_lex.py:458-476)
    for attr, key in (("func_substitutes_forward", "func_substitute_forward"),
                      ("func_substitutes_backward", "func_substitute_backward")):
        table = {}
        for rule in str(f[key]).split(";"):
            parts = rule.split("/")
            if len(parts) == 3:
                table[parts[0]] = [parts[1], parts[2]]
        setattr(lex, attr, table)

    # lemmatization / morph normalization cascades
    for rule in str(f["lemma_rules"]).split(";"):
        parts = rule.split("/")
        if len(parts) == 3:
            lex.lemma_rules.append((re.compile(parts[0]), re.compile(parts[1]), parts[2]))
    for rule in str(f["morph_rules"]).split(";"):
        parts = rule.split("/")
        # reference quirk kept: a rule whose first two characters are equal
        # is skipped (xrenner_lex.py:432)
        if len(parts) == 2 and not (len(rule) > 1 and rule[0] == rule[1]):
            lex.morph_rules.append((re.compile(parts[0]), parts[1]))

    # nested entity removal triples "nested,func,container;..."
    for ent_type in str(f["remove_nested_entities"]).split(";"):
        if ent_type.count(",") == 2:
            nested, func, container = ent_type.split(",")
            lex.rm_nested_entities.append((nested, func, container))

    # --- coref rule cascade (xrenner_lex.py:507-524) -------------------
    with io.open(path("coref_rules.tab"), encoding="utf8") as fh:
        rule_lines = [ln.rstrip("\r\n") for ln in fh]
    rule_lines = [ln for ln in rule_lines if len(ln) > 0 and not ln.startswith("#")]
    default_thresh = f["score_thresh"]
    for rule_num, line in enumerate(rule_lines, start=1):
        rule = CorefRule(line, rule_num)
        if rule.thresh is None:
            rule.thresh = default_thresh
        lex.speaker_rules.append(rule)
        if "speaker" not in line:
            lex.non_speaker_rules.append(CorefRule(line, rule_num, thresh=rule.thresh))

    # --- portable classifiers (xrenner_lex.py:526-563) -----------------
    if f["use_classifiers"]:
        from .kernel.classify import load_model_classifiers
        all_rules = lex.speaker_rules + lex.non_speaker_rules
        lex.classifiers = load_model_classifiers(path, all_rules, f)
        for rule in all_rules:
            rule.use_clf = rule.clf_name != "_default_"

    # --- depedit pre-rewriting (xrenner_xrenner.py:39-43) --------------
    if have("depedit.ini"):
        from .kernel.depedit_lite import DepEditLite
        with io.open(path("depedit.ini"), encoding="utf8") as fh:
            lex.depedit = DepEditLite(fh.read().split("\n"))
    return lex
