"""Document analysis orchestration: the per-document kernel entry point.

``analyze_document`` reproduces the reference's analysis lifecycle
(reference xrenner/modules/xrenner_xrenner.py:76-277 analyze +
:397-706 process_sentence) as a pure function of (conllu text, LexModel):
parse -> per-sentence preprocessing -> markable candidates -> entity
classification -> coreference cascade -> verbal antecedents ->
postprocessing, returning plain-dict rows ready for Arrow serialization.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from . import parsing
from .classes import DocState, Markable
from .compat import stems_compatible
from .corefer import antecedent_prohibited, find_antecedent
from .entities import analyze_markable, assign_coordinate_entity
from .mentions import (is_atomic, make_markable, pos_func_combo,
                       recognize_entity_by_mod, stoplist_prefix_tokens)
from .postprocess import postprocess_coref


def _block_token_count(block: str) -> int:
    """Tokens read_document will materialize for one sentence block."""
    n = 0
    for ln in block.split("\n"):
        if "\t" in ln:
            first = ln.split("\t", 1)[0]
            if "." not in first and "-" not in first:
                n += 1
    return n


def analyze_document_windowed(doc_id: str, conllu_text: str, lex,
                              max_sentences: int = 500,
                              pre_rewritten: bool = False,
                              overlap: int = None) -> "DocResult":
    """Giant-document guard: documents longer than ``max_sentences`` are
    split into sentence windows, each analyzed with the preceding
    ``overlap`` sentences prepended as read-only context, then stitched:
    only the non-context region's tokens/mentions are emitted, with ids
    rebased document-global and chain groups mapped onto the previous
    windows' groups wherever a context mention anchors them.

    ``overlap`` defaults to max(100, the longest max-sentence-distance
    any LOADED coref rule uses) — so every antecedent scan at a window
    boundary sees the full range any rule can reach, whatever model is
    in play (the shipped models max out at 100).  Cross-sentence PARSE
    state (open-quote flag, the use_speaker_rules latch, the dynamic
    hasa overlay) is captured at each next window's context-start
    sentence and seeded forward, so it is EXACT regardless of distance.
    Residual divergence vs the exact path is therefore limited to
    RESOLUTION state with unbounded lookback — coref propagation chains
    spanning > ``overlap`` sentences, the ``last[]`` register (unused by
    shipped models), and the verbal-event antecedent scan over the whole
    document prefix — see COVERAGE.md "giant-document bound" for the
    proof and the rate measured against the reference engine
    (``git show 5ce8ac4:scripts/parity_sweep_adversarial.py``);
    scripts/self_diff.py's ``windowed`` family holds the stitcher to
    that commit's.
    This bounds worst-case task latency and memory on pathological pages
    (SURVEY.md §7.2 risk 3: the one place salting cannot fix skew,
    because one document is one kernel call).  Documents at or under the
    threshold take the exact path.
    """
    if lex.depedit is not None and not pre_rewritten:
        conllu_text = lex.depedit.run(conllu_text)
    blocks = [b for b in conllu_text.replace("\r", "").split("\n\n") if b.strip()]
    if len(blocks) <= max_sentences:
        return analyze_document(doc_id, conllu_text, lex, pre_rewritten=True)
    if overlap is None:
        max_rule_dist = max(
            (r.max_distance for r in
             list(lex.speaker_rules) + list(lex.non_speaker_rules)),
            default=0)
        overlap = max(100, max_rule_dist)
    if overlap >= max_sentences:
        # a rule reaches further than one window: grow the window so the
        # context invariant (overlap < window) holds
        max_sentences = 5 * overlap
        if len(blocks) <= max_sentences:
            return analyze_document(doc_id, conllu_text, lex,
                                    pre_rewritten=True)

    block_toks = [_block_token_count(b) for b in blocks]
    tokens: List[dict] = []
    mentions: List[dict] = []
    dump_rows: List[str] = []   # window-local positions; approximate on
    dump_headers: List[str] = []  # giant docs, exact on the <=max path
    n_sentences = 0
    n_tokens = 0
    group_base = 0
    prev_group_of_span: Dict[str, int] = {}   # global span -> global group
    emitted_by_span: Dict[str, dict] = {}     # global span -> emitted row

    seed = None
    for w in range(0, len(blocks), max_sentences):
        ctx = min(overlap, w)
        window = "\n\n".join(blocks[w - ctx:w + max_sentences])
        next_w = w + max_sentences
        boundary_sent = None
        if next_w < len(blocks):
            # local 1-based sentence index where the NEXT window's
            # context will start — parse state is snapshotted there
            boundary_sent = (next_w - min(overlap, next_w)) - (w - ctx) + 1
        part = analyze_document(doc_id, window, lex, pre_rewritten=True,
                                seed_state=seed,
                                boundary_sent=boundary_sent)
        seed = part.boundary_state
        n_ctx_tokens = sum(block_toks[w - ctx:w])
        delta = n_tokens - n_ctx_tokens       # window-local tid -> global
        sent_delta = n_sentences - ctx

        for tok in part.tokens:
            if tok["tid"] <= n_ctx_tokens:
                continue                       # context: already emitted
            tok = dict(tok)
            tok["tid"] += delta
            if tok["head"] > 0:
                tok["head"] += delta
            tok["sent_num"] += sent_delta
            tokens.append(tok)

        kept = [m for m in part.mentions if m["start"] > n_ctx_tokens]
        # marks may be CREATED at context positions by this window's
        # resolution of the kept region: verbal-event antecedents (made
        # at a context verb token) and apposition envelopes (made in
        # postprocess when a kept anaphor links through a context appos
        # pair).  Emit any such mark a kept mention references — normal
        # context antecedents are already in emitted_by_span and are
        # skipped, so this only fills spans that would otherwise dangle.
        referenced = {m["antecedent"] for m in kept if m["antecedent"]}
        for m in part.mentions:
            if m["start"] <= n_ctx_tokens and m["mark_id"] in referenced \
                    and "%d_%d" % (m["start"] + delta, m["end"] + delta) \
                    not in emitted_by_span:
                kept.append(m)

        # retro-propagation: an anaphor in the KEPT region that links to a
        # context mention mutates it (entity/subclass/agree flow backward,
        # reference xrenner_propagate.py) — the reference applies that in
        # its single pass, so rewrite the already-emitted row with the
        # re-resolved values.  Only mentions whose mutation SOURCE lies in
        # the kept region are touched: context-internal re-resolution must
        # not overwrite values that were computed with more left context.
        retro = part.retro_spans or {}
        for m in part.mentions:
            if m["start"] <= n_ctx_tokens and \
                    retro.get(m["mark_id"], -1) > n_ctx_tokens:
                row = emitted_by_span.get(
                    "%d_%d" % (m["start"] + delta, m["end"] + delta))
                if row is not None:
                    for key in ("entity", "subclass", "agree", "agree_raw"):
                        row[key] = m[key]

        # group stitching: a window-local group anchored by a context
        # mention keeps that mention's already-assigned global group; if
        # one window-local group is anchored by context mentions from TWO
        # different global groups, a kept anaphor merged those chains —
        # union the emitted groups the way the reference's single pass
        # would have
        group_map: Dict[int, int] = {}
        merges: Dict[int, int] = {}

        def _find(g: int) -> int:
            while g in merges:
                g = merges[g]
            return g

        for m in part.mentions:
            if m["start"] <= n_ctx_tokens:
                span = "%d_%d" % (m["start"] + delta, m["end"] + delta)
                if span in prev_group_of_span:
                    g_prev = _find(prev_group_of_span[span])
                    if m["group_id"] not in group_map:
                        group_map[m["group_id"]] = g_prev
                    else:
                        g_kept = _find(group_map[m["group_id"]])
                        if g_kept != g_prev:
                            merges[g_prev] = g_kept
        if merges:
            for row in mentions:
                row["group_id"] = _find(row["group_id"])
            for span, g in prev_group_of_span.items():
                prev_group_of_span[span] = _find(g)

        max_group = 0
        for m in kept:
            m = dict(m)
            for key in ("start", "end", "head_id"):
                m[key] += delta
            if m["head_parent"] > 0:
                m["head_parent"] += delta
            m["sent_num"] += sent_delta
            m["mark_id"] = "%d_%d" % (m["start"], m["end"])
            if m["antecedent"]:
                a_start, a_end = m["antecedent"].split("_")
                m["antecedent"] = "%d_%d" % (int(a_start) + delta,
                                             int(a_end) + delta)
            max_group = max(max_group, m["group_id"])
            # canonicalize through merges at USE time: group_map values
            # assigned before a later cross-chain merge may still hold
            # the merged-away root (r5 advice — silent chain split on
            # >500-sentence docs otherwise)
            m["group_id"] = _find(group_map.get(m["group_id"],
                                                group_base + m["group_id"]))
            prev_group_of_span[m["mark_id"]] = m["group_id"]
            emitted_by_span[m["mark_id"]] = m
            mentions.append(m)
        group_base += max_group
        n_tokens += part.n_tokens - n_ctx_tokens
        n_sentences += part.n_sentences - ctx
        dump_rows.extend(part.dump_rows)
        if not dump_headers:
            dump_headers = part.dump_headers
    return DocResult(doc_id, tokens, mentions, n_sentences, n_tokens,
                     dump_rows=dump_rows, dump_headers=dump_headers)


class DocResult:
    """Kernel output for one document."""

    __slots__ = ("doc_id", "_tokens", "mentions", "n_sentences", "n_tokens",
                 "dump_rows", "dump_headers", "boundary_state",
                 "retro_spans")

    def __init__(self, doc_id, tokens, mentions, n_sentences, n_tokens,
                 dump_rows=None, dump_headers=None):
        self.doc_id = doc_id
        # list of dict rows, or a zero-arg thunk building them on demand:
        # the Spark fused stage consumes only mentions/verbs, so the
        # token-row dicts (one per token, ~7 fields) are never built for
        # it (r6 — the serializers and the windowed stitcher, which do
        # read .tokens, materialize lazily and idempotently)
        self._tokens = tokens
        self.mentions = mentions    # list of dict rows
        self.n_sentences = n_sentences
        self.n_tokens = n_tokens
        # training-data dump sink rows (populated when lex.dump is set)
        self.dump_rows = dump_rows if dump_rows is not None else []
        self.dump_headers = dump_headers if dump_headers is not None else []
        # windowed path only: parse-time state at the next window's
        # context-start sentence (None on the exact path)
        self.boundary_state = None
        # windowed path only: local mention span -> highest start position
        # of a mention whose propagation mutated it after resolution
        self.retro_spans = None

    @property
    def tokens(self):
        if callable(self._tokens):
            self._tokens = self._tokens()
        return self._tokens

    @tokens.setter
    def tokens(self, value):
        self._tokens = value


def analyze_document(doc_id: str, conllu_text: str, lex,
                     pre_rewritten: bool = False, seed_state=None,
                     boundary_sent=None) -> DocResult:
    # depedit pre-rewriting runs before any parsing, exactly where the
    # reference invokes it (xrenner_xrenner.py:108-109); pre_rewritten
    # lets the Spark pipeline rewrite once for kernel + verb extraction
    if lex.depedit is not None and not pre_rewritten:
        conllu_text = lex.depedit.run(conllu_text)
    doc = parsing.read_document(conllu_text, lex, seed_state=seed_state,
                                boundary_sent=boundary_sent)
    doc.docname = doc_id   # feature dumps carry the document name
    f = lex.filters

    tokoffset = 0
    for sentence in doc.sentences:
        tokoffset = sentence.start_offset
        _process_sentence(doc, tokoffset, sentence)

    # verbal antecedents for unresolved definite event/abstract mentions
    # (reference xrenner_xrenner.py:234-265)
    marks_to_add = []
    if f["seek_verb_for_defs"]:
        for mark in doc.markables:
            if mark.definiteness == "def" and mark.antecedent is None \
                    and mark.form == "common" and \
                    (f["event_def_entity"] == mark.entity
                     or f["abstract_def_entity"] == mark.entity):
                for tok in doc.tokens[0:mark.start]:
                    if f["verb_head_pos"].match(tok.pos) and \
                            stems_compatible(tok, mark.head, lex):
                        v_antecedent = make_markable(
                            tok, doc, {}, tok.sentence.start_offset, tok.sentence,
                            [], len(doc.tokens) - 1)
                        mark.antecedent = v_antecedent
                        mark.coref_type = "coref"
                        v_antecedent.entity = mark.entity
                        v_antecedent.subclass = mark.subclass
                        v_antecedent.definiteness = "none"
                        v_antecedent.form = "verbal"
                        v_antecedent.infstat = "new"
                        v_antecedent.group = mark.group
                        v_antecedent.id = -tok.tid  # stable unique id
                        marks_to_add.append(v_antecedent)
    for mark in marks_to_add:
        doc.markstart.setdefault(mark.start, []).append(mark)
        doc.markend.setdefault(mark.end, []).append(mark)
        doc.markables_by_head[str(mark.head.tid)] = mark
        doc.markables.append(mark)

    postprocess_coref(doc)

    result = _serialize(doc_id, doc)
    if boundary_sent is not None:
        result.boundary_state = {
            "quoted": doc._boundary_quoted,
            "use_speaker_rules": doc._boundary_speaker,
            "hasa": doc._hasa_snap if doc._hasa_snap is not None else {},
        }
    if boundary_sent is not None or seed_state is not None:
        # windowed call: report which mentions were mutated by a LATER
        # mention's propagation, so the stitcher can retro-apply backward
        # propagation onto context mentions already emitted
        result.retro_spans = {
            "%d_%d" % (m.start, m.end): m.retro_src
            for m in doc.markables if m.retro_src >= 0}
    return result


# ----------------------------------------------------------------------

def _process_sentence(doc: DocState, tokoffset: int, sentence):
    lex = doc.lex
    f = lex.filters
    upto = tokoffset + sentence.token_count  # last token id of this sentence
    upto = min(upto, len(doc.tokens) - 1)
    toks = doc.tokens

    parsing.add_child_info(doc, upto)
    parsing.add_negated_parents(doc, tokoffset, upto)
    parsing.set_positions(doc, tokoffset, upto, sentence)
    # stop_ids is seeded before the postprocess hook and threaded through
    # to find_stop_zones, matching the reference's lifecycle
    # (xrenner_xrenner.py:431-443 init, :441-442 postprocess hook)
    # token ids are list indices by construction, so the sentence's id
    # range is contiguous
    stop_ids = dict.fromkeys(range(tokoffset + 1, upto + 1), False)
    if f["postprocess_parser"]:
        parsing.postprocess_parser(doc, tokoffset, upto, stop_ids)
    parsing.replace_conj_func(doc, tokoffset, upto)
    parsing.attach_modifiers_and_learn_hasa(doc, tokoffset, upto)
    parsing.find_stop_zones(doc, tokoffset, upto, stop_ids)
    parsing.build_descendants(doc, tokoffset, upto)
    descendants = doc.descendants

    # memoized-regex matchers hoisted out of the per-token loop
    head_pos_match = f["mark_head_pos"].match
    forbidden_func_match = f["mark_forbidden_func"].match
    pos_func_heads = f["pos_func_heads"]

    def is_eligible_submark_head(tok):
        return (head_pos_match(tok.pos) is not None
                and forbidden_func_match(tok.func) is None)

    mark_candidates: Dict[str, Markable] = {}
    keys_to_pop: List = []

    for tok in toks[tokoffset + 1:upto + 1]:
        # is_head_candidate inlined in this per-token loop (r6): same
        # predicate, one closure call fewer per token
        if not ((head_pos_match(tok.pos) is not None
                 and forbidden_func_match(tok.func) is None)
                or pos_func_combo(tok.pos, tok.func, pos_func_heads)) \
                or stop_ids[tok.tid]:
            continue
        mark = make_markable(tok, doc, descendants, tokoffset, sentence,
                             keys_to_pop, upto)
        tid_key = str(tok.tid)
        mark_candidates[tid_key] = mark

        # coordination: a small markable for the first conjunct plus a big
        # composite envelope (reference xrenner_xrenner.py:564-613)
        submark_id = ""
        submarks = []
        cardi = 0
        for child_id in doc.children.get(tok.tid, []):
            child = toks[child_id]
            if child.coordinate:
                if child.tid in descendants:
                    for sub_desc in descendants[child.tid]:
                        if tok.tid in descendants and sub_desc in descendants[tok.tid]:
                            descendants[tok.tid].remove(sub_desc)
                if tok.tid in descendants and child.tid in descendants[tok.tid]:
                    descendants[tok.tid].remove(child.tid)
                submark_id += "_" + str(child.tid)
                cardi += 1
                submarks.append(child.tid)
        if submarks:
            submarks.append(tok.tid)
            for child_id in doc.children.get(tok.tid, []):
                child = toks[child_id]
                if f["coord_func"].match(child.func):
                    if child.tid in descendants.get(tok.tid, []):
                        descendants[tok.tid].remove(child.tid)
            big = mark_candidates[tid_key]
            big.cardinality = cardi + 1
            small = make_markable(tok, doc, descendants, tokoffset, sentence,
                                  keys_to_pop, upto)
            big.submarks = submarks[:]
            if f["aggregate_agree"] != "_":
                big.agree = f["aggregate_agree"]
                big.agree_certainty = "coordinate_aggregate_plural"
                big.coordinate = True
            if all(is_eligible_submark_head(toks[m]) for m in big.submarks):
                mark_candidates[tid_key + submark_id] = big
            mark_candidates[tid_key] = small

    # atomicity: atomic spans suppress nested candidates
    # (reference xrenner_xrenner.py:616-637)
    # the key set is stable during this loop (keys_to_pop only accumulates),
    # so the str->int key conversions hoist out of the per-mark scan
    simple_keys = [(key, int(key)) for key in mark_candidates
                   if "_" not in key]
    pronoun_pos_match = f["pronoun_pos"].match
    for mark_id, mark in mark_candidates.items():
        if mark.end > mark.start:
            mod_hit = recognize_entity_by_mod(mark, lex, True)
            mod_atomic = mod_hit is not None and mod_hit[2]
            if is_atomic(mark, lex) or (mod_atomic and "_" not in mark_id):
                head_key = str(mark.head.tid)
                m_start, m_end = mark.start, mark.end
                for key, ikey in simple_keys:
                    if key != head_key and m_start <= ikey <= m_end:
                        if pronoun_pos_match(toks[ikey].pos) is None:
                            keys_to_pop.append(key)
            elif mod_hit is not None:
                stoplist_prefix_tokens(mark, lex.entity_mods, keys_to_pop)
        if mark.text + "@" in lex.stop_list:
            keys_to_pop.append(mark_id)

    for key in keys_to_pop:
        mark_candidates.pop(str(key), None)

    # classify and register markables.  The surviving candidate object is
    # promoted IN PLACE (r6): the former re-construction copied every
    # field verbatim except the five below — id/group (fresh counters),
    # infstat (already "new" from make_markable), and the three
    # text-shape fields the constructor derives, which were stale on the
    # candidate (computed before span extension / the core-text
    # fixpoint) and are re-derived here exactly as the constructor would
    processed_marks = len(doc.markables)
    for mark_id, cand in mark_candidates.items():
        analyze_markable(cand, doc)
        doc.markcounter += 1
        doc.groupcounter += 1
        markable = cand
        markable.id = doc.markcounter
        markable.group = doc.groupcounter
        core = markable.core_text
        markable.first = core.partition(" ")[0]
        markable.last = core.rpartition(" ")[2]
        markable.length = markable.text.count(" ") + 1
        markable.mod_count = len(markable.head.modifiers)
        markable.fill_dep_scores(lex, doc)
        doc.markables.append(markable)
        doc.markables_by_head[mark_id] = markable
        doc.markstart.setdefault(markable.start, []).append(markable)
        doc.markend.setdefault(markable.end, []).append(markable)

    # coreference pass over this sentence's markables
    # (reference xrenner_xrenner.py:657-702)
    for current in doc.markables[processed_marks:]:
        if current.submarks:
            assign_coordinate_entity(current, doc.markables_by_head)
        if antecedent_prohibited(current, doc, lex) or \
                (current.definiteness == "indef"
                 and f["apposition_func"].match(current.head.func) is None
                 and not f["allow_indef_anaphor"]):
            antecedent, propagation = None, None
        elif current.definiteness == "indef" \
                and f["apposition_func"].match(current.head.func) is not None \
                and not f["allow_indef_anaphor"]:
            antecedent, propagation = find_antecedent(current, doc, lex, "appos")
        else:
            antecedent, propagation = find_antecedent(current, doc, lex)
        if antecedent is not None:
            if antecedent.head.tid < current.head.tid or "invert" in (propagation or ""):
                if "invert" in (propagation or ""):
                    antecedent, current = current, antecedent
                current.antecedent = antecedent
                current.group = antecedent.group
                if f["apposition_func"].match(current.head.func) is not None \
                        and current.sentence.sent_num == antecedent.sentence.sent_num:
                    current.coref_type = "appos"
                elif current.form == "pronoun":
                    current.coref_type = "ana"
                elif current.coref_type == "none":
                    current.coref_type = "coref"
                current.infstat = "giv"
            else:  # cataphoric: group flows backwards
                current.antecedent = antecedent
                antecedent.group = current.group
                current.coref_type = "cata"
                current.infstat = "new"
        elif current.form == "pronoun":
            current.infstat = "acc"
        else:
            current.infstat = "new"

        if current.agree is not None and current.agree != "":
            doc.last[current.agree] = current


# ----------------------------------------------------------------------

def _serialize(doc_id: str, doc: DocState) -> DocResult:
    def token_rows():
        return [{
            "doc_id": doc_id, "tid": tok.tid, "text": tok.text,
            "lemma": tok.lemma, "pos": tok.pos, "morph": tok.morph,
            "head": tok.head, "func": tok.func,
            "sent_num": tok.sentence.sent_num, "quoted": tok.quoted,
            "negated": tok.negated,
        } for tok in doc.tokens[1:]]
    def ref_id(mark):
        """Reference-style markable id: verbal pseudo-markables are keyed
        by head token id (xrenner_xrenner.py:255), apposition envelopes
        carry the literal id "env" (xrenner_postprocess.py:209), and
        postprocessing-removed marks carry "0"."""
        if mark.killed:
            return "0"
        if mark.form == "verbal":
            return "referent_%d" % mark.head.tid
        if mark.id < 0:
            return "env"
        return "referent_%d" % mark.id

    mention_rows = []
    for mark in doc.markables:
        ante = mark.antecedent
        mention_rows.append({
            "ref_id": ref_id(mark),
            "antecedent_ref": ref_id(ante) if ante is not None else "none",
            # extra sink-only fields (not part of the Spark MENTION_STRUCT):
            # the HTML/PAULA/WebAnno serializers need the raw None-ness of
            # agree (reference prints str(None) -> "None"), the speaker,
            # the matched rule number, and the antecedent's surface text
            "agree_raw": mark.agree,
            "cardinality_raw": mark.cardinality,
            "speaker": mark.speaker,
            "matching_rule": (str(mark.matching_rule)
                              if mark.matching_rule is not None else None),
            "antecedent_text": ante.text if ante is not None else "",
            "doc_id": doc_id,
            "mark_id": "%d_%d" % (mark.start, mark.end),
            "start": mark.start, "end": mark.end,
            "text": mark.text, "core_text": mark.core_text,
            "entity": mark.entity, "subclass": mark.subclass,
            "agree": mark.agree if mark.agree is not None else "",
            "form": mark.form, "definiteness": mark.definiteness,
            "cardinality": float(mark.cardinality),
            "group_id": int(mark.group),
            "coref_type": mark.coref_type,
            "antecedent": "%d_%d" % (ante.start, ante.end) if ante is not None else "",
            "infstat": mark.infstat,
            "head_id": mark.head.tid,
            "head_func": mark.head.func,
            "head_lemma": mark.head.lemma,
            "head_parent": mark.head.head,
            "sent_num": mark.sentence.sent_num,
            "coordinate": mark.coordinate,
            "submarks": [int(s) for s in mark.submarks],
        })
    return DocResult(doc_id, token_rows, mention_rows,
                     len(doc.sentences), len(doc.tokens) - 1,
                     dump_rows=doc.dump_rows, dump_headers=doc.dump_headers)
