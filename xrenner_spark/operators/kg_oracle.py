"""DuckDB oracle SQL for the KG-stage queries.

The per-document rule kernel itself is not SQL-expressible (it is carried
by the committed goldens + parity sweep), but every SQL *stage* downstream
of it is: the driver's Spark query exports the kernel output (exploded
mentions/verbs), the raw conllu, and the token table to parquet under
``EXPORT_DIR`` once per (session, sf_dir), and the oracle SQL here
recomputes each stage independently over those exports:

- kg_chains      — canonicalization aggregation (arg_min/arg_max twins of
                   triples.canonical_mentions' orderings), checking the
                   chain rows the kernel loop emits (chains_stage)
- kg_triples     — role regexes + verb join + subj×obj join, checking
                   triples.extract_triples' rows (triples_stage)
- kg_tokens      — a full independent conllu parse in SQL (line split,
                   sentence-run detection, token-offset accumulation),
                   cross-checking the python tokens_stage parser
- kg_child_info  — the child-info self-join + sorted collect
- kg_descendants — dependency-tree transitive closure via WITH RECURSIVE
                   (the fixpoint twin of descendants_closure_sql)

The chains and triples twins group by url, so they assume one document
per url, as the exported kernel output has (generate_pages gives every
page its own url); two documents under one url would be merged into one
chain table and cross-paired, unlike the per-document rows they check.

Composite orderings are encoded as banded BIGINT keys (DuckDB's
arg_min/arg_max take no struct ordering): positions and span lengths are
bounded far below 10^6 / 10^6 / 10^4 per band, so the scalar order equals
the lexicographic struct order used on the Spark side.
"""

from __future__ import annotations

import os

EXPORT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".oracle_export")


def _pq(name: str) -> str:
    return "read_parquet('%s/%s.parquet/*.parquet')" % (EXPORT_DIR, name)


#: committed reference-engine mention export (scripts/make_ref_mentions.py):
#: the hard oracle for kg_mentions — the rule cascade has no SQL twin, but
#: it does have a reference-implementation twin, generated sandbox-only
#: from the read-only reference and committed like the goldens
REF_MENTIONS_FIXTURE = os.path.join(
    os.path.dirname(EXPORT_DIR), "tests", "fixtures",
    "ref_mentions_500.parquet")


def kg_mentions_sql() -> str:
    """The driver's correctness run uses 500 documents (documents.parquet
    row count at sf0.01 and sf0.001 alike); the fixture was generated for
    exactly those 500 corpus doc ids."""
    return ("SELECT url, mark_id, text, entity, agree, form, coref_type, "
            "group_id, sent_num FROM read_parquet('%s')"
            % REF_MENTIONS_FIXTURE)


#: committed reference-engine mention export under the sequencer-enabled
#: models/web_seq variant (scripts/make_ref_mentions_seq.py): the hard
#: oracle for kg_mentions_seq — the reference ran with this repo's
#: LexiconSequencer attached through its own predict_proba surface, so
#: all four sequencer consumption sites are exercised end-to-end
REF_MENTIONS_SEQ_FIXTURE = os.path.join(
    os.path.dirname(EXPORT_DIR), "tests", "fixtures",
    "ref_mentions_seq_500.parquet")


def kg_mentions_seq_sql() -> str:
    """Reference-engine mentions for the same 500 docs under web_seq."""
    return ("SELECT url, mark_id, text, entity, agree, form, coref_type, "
            "group_id, sent_num FROM read_parquet('%s')"
            % REF_MENTIONS_SEQ_FIXTURE)


REF_SGML_FIXTURE = os.path.join(
    os.path.dirname(EXPORT_DIR), "tests", "fixtures", "ref_sgml_500.parquet")


def kg_serialize_sgml_sql() -> str:
    """Reference-engine SGML serialization of the same 500 corpus docs
    (scripts/make_ref_serialized.py) — byte-level sink oracle."""
    return ("SELECT url, fmt, filename, payload FROM read_parquet('%s')"
            % REF_SGML_FIXTURE)


REF_DUMP_FIXTURE = os.path.join(
    os.path.dirname(EXPORT_DIR), "tests", "fixtures", "ref_dump_500.parquet")


def kg_training_dump_sql() -> str:
    """Reference-engine training-dump lines for the same 500 corpus docs
    (scripts/make_ref_dump.py); the driver's order-insensitive value
    hash absorbs the reference's hash-incidental set iteration order."""
    return "SELECT url, line FROM read_parquet('%s')" % REF_DUMP_FIXTURE


# order-equivalent scalar encodings of the Spark-side struct orderings
_ORD_FIRST = 'CAST(start AS BIGINT) * 1000000 + "end"'
_ORD_LONGEST = ('CAST(length(core_text) AS BIGINT) * 1000000000000 '
                '- CAST(start AS BIGINT) * 1000000 - "end"')

_CANON = """
    SELECT url, group_id,
           coalesce(
             arg_min(core_text, {first}) FILTER (WHERE form = 'proper'),
             arg_max(core_text, {longest}) FILTER (WHERE form != 'pronoun'),
             arg_min(core_text, {first})
           ) AS canonical_text,
           arg_min(entity, {first}) AS entity,
           count(*) AS n_mentions
    FROM m GROUP BY url, group_id
""".format(first=_ORD_FIRST, longest=_ORD_LONGEST)


def kg_chains_sql() -> str:
    return "WITH m AS (SELECT * FROM %s)\n%s" % (_pq("mentions"), _CANON)


def kg_triples_sql() -> str:
    return """
    WITH m AS (SELECT * FROM {mentions}),
    v AS (SELECT * FROM {verbs}),
    canon AS ({canon}),
    roled AS (
        SELECT url, mark_id, group_id, head_parent, sent_num,
               CASE WHEN regexp_matches(head_func, '^[nc]subj') THEN 'subj'
                    WHEN regexp_matches(head_func, '^(obj|dobj|iobj|obl|nmod)$')
                         THEN 'obj' END AS role
        FROM m
    ),
    args AS (
        SELECT r.url, r.mark_id, r.sent_num, r.role, v.verb_id, v.verb_lemma,
               c.canonical_text, c.entity AS chain_entity
        FROM roled r
        JOIN v ON r.url = v.url AND r.head_parent = v.verb_id
        LEFT JOIN canon c ON r.url = c.url AND r.group_id = c.group_id
        WHERE r.role IS NOT NULL
    ),
    subj AS (SELECT url, verb_id, verb_lemma, canonical_text AS subj,
                    chain_entity AS subj_entity, sent_num,
                    mark_id AS subj_mark
             FROM args WHERE role = 'subj'),
    obj AS (SELECT url, verb_id, canonical_text AS obj,
                   chain_entity AS obj_entity, mark_id AS obj_mark
            FROM args WHERE role = 'obj')
    SELECT s.url, s.subj, s.verb_lemma AS pred, o.obj, s.sent_num,
           s.subj_entity, o.obj_entity
    FROM subj s JOIN obj o ON s.url = o.url AND s.verb_id = o.verb_id
    WHERE s.subj_mark != o.obj_mark
    """.format(mentions=_pq("mentions"), verbs=_pq("verbs"), canon=_CANON)


def kg_tokens_sql() -> str:
    """Independent conllu parse: token lines are tab-bearing lines,
    sentences are maximal runs of token lines, tids/heads are offset by
    the counted-token total of preceding sentences — the SQL twin of
    pipeline.tokens_stage's line loop (multiword `1-2` / empty `1.1` ids
    are excluded from numbering, as there)."""
    return """
    WITH docs AS (SELECT * FROM {conllu}),
    lines AS (
        SELECT url, u.i AS idx, lns[u.i] AS line
        FROM (SELECT url, string_split(conllu, chr(10)) AS lns FROM docs) d,
             LATERAL (SELECT unnest(range(1, len(lns) + 1)) AS i) u
    ),
    grp AS (
        SELECT url, idx, string_split(line, chr(9)) AS c,
               contains(line, chr(9)) AS is_tok,
               sum(CASE WHEN contains(line, chr(9)) THEN 0 ELSE 1 END)
                   OVER (PARTITION BY url ORDER BY idx) AS gap
        FROM lines
    ),
    toks AS (
        SELECT url, idx, c, gap
        FROM grp
        WHERE is_tok AND NOT (contains(c[1], '.') OR contains(c[1], '-'))
    ),
    sent AS (
        SELECT url, gap, count(*) AS n_counted FROM toks GROUP BY url, gap
    ),
    sentnum AS (
        SELECT url, gap,
               CAST(row_number() OVER (PARTITION BY url ORDER BY gap) AS INTEGER)
                   AS sent_num,
               CAST(coalesce(sum(n_counted) OVER (
                   PARTITION BY url ORDER BY gap
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS INTEGER) AS offs
        FROM sent
    )
    SELECT t.url,
           CAST(t.c[1] AS INTEGER) + s.offs AS tid,
           t.c[2] AS text, t.c[3] AS lemma, t.c[4] AS pos,
           CASE WHEN t.c[7] = '0' THEN 0
                ELSE CAST(t.c[7] AS INTEGER) + s.offs END AS head,
           t.c[8] AS func, s.sent_num
    FROM toks t JOIN sentnum s ON t.url = s.url AND t.gap = s.gap
    """.format(conllu=_pq("conllu"))


def kg_child_info_sql() -> str:
    return """
    WITH t AS (SELECT * FROM {tokens})
    SELECT p.url, p.tid,
           array_to_string(list_sort(list(c.func)), ';') AS child_funcs,
           array_to_string(list_sort(list(c.text)), ';') AS child_strings,
           count(*) AS n_children
    FROM t p JOIN t c ON p.url = c.url AND p.tid = c.head
    GROUP BY p.url, p.tid
    """.format(tokens=_pq("tokens1k"))


def kg_descendants_sql() -> str:
    return """
    WITH RECURSIVE t AS (SELECT * FROM {tokens}),
    edges AS (SELECT url, head AS ancestor, tid AS descendant
              FROM t WHERE head > 0),
    closure AS (
        SELECT url, ancestor, descendant FROM edges
        UNION
        SELECT c.url, c.ancestor, e.descendant
        FROM closure c JOIN edges e
          ON c.url = e.url AND c.descendant = e.ancestor
    )
    SELECT url, ancestor, descendant FROM closure
    """.format(tokens=_pq("tokens200"))


def kg_model_freqs_sql() -> str:
    return """
    SELECT lemma, count(*) AS freq
    FROM {tokens}
    GROUP BY lemma HAVING count(*) >= 2
    """.format(tokens=_pq("tokens1k"))


def kg_model_entity_deps_sql() -> str:
    return """
    SELECT p.lemma AS parent_lemma, m.head_func AS func, m.entity,
           count(*) AS freq
    FROM {mentions} m
    JOIN {tokens} p ON m.url = p.url AND m.head_parent = p.tid
    WHERE m.head_parent > 0
    GROUP BY 1, 2, 3
    """.format(mentions=_pq("mentions"), tokens=_pq("tokens1k"))


def kg_model_hasa_sql() -> str:
    return """
    SELECT h.text AS possessor, p.text AS possessed, count(*) AS freq
    FROM {mentions} m
    JOIN {tokens} h ON m.url = h.url AND m.head_id = h.tid
    JOIN {tokens} p ON m.url = p.url AND m.head_parent = p.tid
    WHERE regexp_matches(m.head_func, '^nmod:poss$') AND m.head_parent > 0
    GROUP BY 1, 2
    """.format(mentions=_pq("mentions"), tokens=_pq("tokens1k"))
