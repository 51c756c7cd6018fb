"""Chain canonicalization and (subj, pred, obj) triple extraction.

The reference engine stops at entity-annotated coreference chains; the
KG layer pins a deterministic extraction over its outputs (SURVEY.md §2.8)
and applies the *same* function to both our kernel output and
reference-faithful golden output, making "matching the reference's
emitted triples" well-defined:

1. predicates  = tokens whose POS matches ``VERB_POS`` (equal to
                 models/web's config.ini verb_head_pos, the class the
                 reference itself uses for verbal antecedents,
                 xrenner_xrenner.py:240-241);
2. arguments   = final (post-postprocessing) markables whose head token
                 depends on that verb with func matching
                 ``SUBJECT_FUNC`` (subj) or ``OBJECT_FUNC`` (obj) —
                 conj-propagated functions mean coordinated subjects each
                 yield a triple;
3. canonical   = per chain: core_text of the first proper-form member
                 (by start, end), else of the longest non-pronoun member
                 (ties: the earlier start, then the earlier end), else of
                 the first member;
4. triple      = (canonical(subj.group), verb lemma, canonical(obj.group))
                 with provenance (doc, sent_num, groups, chain entities).

canonical_mentions and extract_triples are the one definition of these
rules: the kernel loop (pipeline._emit_kernel) calls them per document to
emit the chains and triples rows, and the parity harness applies them to
golden output.  Their checks are independent restatements of the rules,
in SQL semantics: the Column-API reference in tests/test_triples_sql.py
and the DuckDB twins in operators/kg_oracle.py (the driver's kg_chains /
kg_triples).
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, List, Tuple

#: role dependency functions of a verb's arguments and the predicate POS,
#: fixed: the subject and verb patterns equal models/web's ``subject_func``
#: and ``verb_head_pos`` but are not read from them
OBJECT_FUNC = re.compile(r"^(obj|dobj|iobj|obl|nmod)$")
SUBJECT_FUNC = re.compile(r"^[nc]subj")
VERB_POS = re.compile(r"^VERB$")


def parse_verbs(conllu_text: str) -> Dict[int, str]:
    """Map document-global token id -> lemma for predicate tokens."""
    verbs: Dict[int, str] = {}
    offset = 0
    seen_in_sentence = 0
    for line in conllu_text.replace("\r", "").split("\n"):
        if line.startswith("#"):
            continue
        if "\t" not in line:
            offset += seen_in_sentence
            seen_in_sentence = 0
            continue
        cols = line.split("\t")
        if "." in cols[0] or "-" in cols[0]:
            continue
        seen_in_sentence += 1
        if VERB_POS.match(cols[3]) is not None:
            verbs[int(cols[0]) + offset] = cols[2]
    return verbs


def _group(m: dict):
    """A mention's chain key: ``group_id`` (kernel rows) or ``group``
    (reference-export rows)."""
    return m.get("group_id", m.get("group"))


def _first_by_span(members: List[dict]) -> dict:
    """SQL ``min_by(_, struct(start, end))``: the first least span."""
    return min(members, key=lambda m: (m["start"], m["end"]))


def _nominal_key(m: dict):
    """SQL ``struct(length(core_text), -start, -end)``; a NULL length
    orders before every length, as a NULL struct field does in Spark."""
    text = m["core_text"]
    return (-1 if text is None else len(text), -m["start"], -m["end"])


def canonical_mentions(mentions: Iterable[dict]) -> Dict[object, dict]:
    """Per-group chain rows (rule 3 above), keyed by group: ``group_id``,
    ``n_mentions``, ``entity`` (of the first member), ``mention_ids`` (the
    non-NULL mark ids, in input order) and ``canonical_text``.  SQL
    semantics per group, NULLs included: a NULL ``form`` is neither
    proper nor non-pronoun, and a NULL candidate string falls through to
    the next rule."""
    groups: Dict[object, List[dict]] = {}
    for m in mentions:
        groups.setdefault(_group(m), []).append(m)
    chains: Dict[object, dict] = {}
    for gid, members in groups.items():
        if len(members) == 1:  # every rule picks the one member's text
            first = members[0]
            canonical = first["core_text"]
        else:
            first = _first_by_span(members)
            propers = [m for m in members if m["form"] == "proper"]
            nominals = [m for m in members
                        if m["form"] is not None and m["form"] != "pronoun"]
            candidates = (
                _first_by_span(propers)["core_text"] if propers else None,
                max(nominals, key=_nominal_key)["core_text"] if nominals else None,
                first["core_text"])
            canonical = next((t for t in candidates if t is not None), None)
        chains[gid] = {
            "group_id": gid,
            "n_mentions": len(members),
            "entity": first["entity"],
            "mention_ids": [m["mark_id"] for m in members if m["mark_id"] is not None],
            "canonical_text": canonical,
        }
    return chains


def _role(func):
    """SQL ``CASE WHEN regexp_like(...)``: regexp_like finds, it does not
    anchor, and a NULL function gets no role."""
    if func is None:
        return None
    if SUBJECT_FUNC.search(func) is not None:
        return "subj"
    if OBJECT_FUNC.search(func) is not None:
        return "obj"
    return None


def extract_triples(mentions: Iterable[dict], verbs: Dict[int, str],
                    chains: Dict[object, dict] = None) -> List[dict]:
    """Triples for every (subject, object) pair of two different mentions
    sharing a verb, in SQL semantics over one document.
    ``chains``: canonical_mentions of the same mentions (computed when
    omitted).  Subject and object strings and entities are their chains';
    a NULL ``mark_id`` never pairs, a mention whose ``head_parent`` is not
    in ``verbs`` gets no role, and one whose group is NULL or missing from
    ``chains`` gets NULL chain fields."""
    mentions = list(mentions)
    if chains is None:
        chains = canonical_mentions(mentions)
    args: Dict[int, Dict[str, List[dict]]] = {}
    for m in mentions:
        verb_id = m["head_parent"]
        if verb_id not in verbs:
            continue
        role = _role(m["head_func"])
        if role is not None:
            args.setdefault(verb_id, {"subj": [], "obj": []})[role].append(m)

    no_chain = {"canonical_text": None, "entity": None}
    # a LEFT JOIN on group_id: NULL never matches
    chain_of = lambda g: no_chain if g is None else chains.get(g, no_chain)
    triples: List[dict] = []
    for verb_id in sorted(args):
        lemma = verbs[verb_id]
        for subj in args[verb_id]["subj"]:
            if subj["mark_id"] is None:
                continue
            sg = _group(subj)
            sc = chain_of(sg)
            for obj in args[verb_id]["obj"]:
                if obj["mark_id"] is None or obj["mark_id"] == subj["mark_id"]:
                    continue
                og = _group(obj)
                oc = chain_of(og)
                triples.append({
                    "subj": sc["canonical_text"],
                    "pred": lemma,
                    "obj": oc["canonical_text"],
                    "subj_group": sg,
                    "obj_group": og,
                    "subj_entity": sc["entity"],
                    "obj_entity": oc["entity"],
                    "sent_num": subj["sent_num"],
                    "verb_id": verb_id,
                })
    return triples


def triple_key(t: dict) -> Tuple[str, str, str, int]:
    return (t["subj"], t["pred"], t["obj"], t["sent_num"])


def precision_recall(mine: Iterable[dict], reference: Iterable[dict]) -> Tuple[float, float, int, int, int]:
    """Set-based P/R over triple keys; returns (p, r, n_mine, n_ref, n_hit)."""
    mine_keys = {triple_key(t) for t in mine}
    ref_keys = {triple_key(t) for t in reference}
    hits = len(mine_keys & ref_keys)
    p = hits / len(mine_keys) if mine_keys else 1.0
    r = hits / len(ref_keys) if ref_keys else 1.0
    return p, r, len(mine_keys), len(ref_keys), hits
