"""The Spark KG-construction pipeline.

Stage graph (SURVEY.md §3.4); every relational step is one spark.sql
statement (input DataFrames as keyword arguments, values as parameter
markers), so building a pass's plans costs a few py4j round trips each:

    pages (url, warc_ts, html, text, lang)
      │  salted repartition by xxhash64(url)            [defeats url skew]
      ▼
    stage 1  extract: html→(text, conllu), sha, byte-identity check, part_id
      │  (_EXTRACT_SQL — Catalyst only, no Python worker)
      │  checkpoint: table stage_extract + _lineage_extract (lineage_of)
      ▼
    stage 2  kernel: mapInArrow (_map_docs) per-document mention/entity/coref
      │  kernel (analyze_page); long format: one row per doc, mention,
      │  verb, chain and triple + kernel_ms.  Chains and triples are per
      │  document, so the task that holds a document's mentions and verbs
      │  emits them (triples.canonical_mentions / extract_triples).
      │  dedup_kernel_inputs: one statement hash-partitions the extract
      │  rows on text_sha256 (one task per core) and sorts each task on
      │  the kernel input, so a payload's copies are adjacent rows of one
      │  task and the loop analyzes each run of them once
      │  checkpoint: table stage_kernel + _lineage_kernel (lineage_of)
      ▼
    stage 3  two map-only filters of stage_kernel, no exchange, no join,
             independent of each other:
             chains  = chains_stage:  row_type = 'c' → chains table
             triples = triples_stage: row_type = 't' → triples table
             (triples.py is the one definition of the chain and triple
             rules; the DuckDB twins in operators/kg_oracle.py check the
             driver's kg_chains/kg_triples on these filters)

kg_pass is this graph over a Catalog: run_pipeline runs one pass, and
stream_pipeline one per micro-batch into a ``batch_id=<id>`` partition.

Every stage is resumable: if its checkpoint table exists (same run_dir),
it is read back instead of recomputed, so a killed job restarted with the
same warehouse continues where it left off and produces byte-identical
triples and chains (verified in tests/test_pipeline_spark.py).

Per-row Python runs only where it cannot be avoided — the kernel — and
in one place: every sink (kernel_stage, serialize_stage,
training_dump_stage) is SQL extract_stage followed by the single
_map_docs loop, which runs analyze_page once per document
and hands the result to the sink's emit callback; the rule/gazetteer
bundle is broadcast once per executor.
"""

from __future__ import annotations

import time
from typing import Iterator, Optional

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import Catalog
from .kernel import analyze_document_windowed
from .lex import load_lex
from .triples import canonical_mentions, extract_triples, parse_verbs

# ---------------------------------------------------------------------
# schemas
# ---------------------------------------------------------------------

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

EXTRACT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("lang", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("conllu", T.StringType()),
    T.StructField("text_sha256", T.StringType()),
    T.StructField("byte_identical", T.BooleanType()),
    T.StructField("part_id", T.IntegerType()),
])

MENTION_STRUCT = T.StructType([
    T.StructField("mark_id", T.StringType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("core_text", T.StringType()),
    T.StructField("entity", T.StringType()),
    T.StructField("subclass", T.StringType()),
    T.StructField("agree", T.StringType()),
    T.StructField("form", T.StringType()),
    T.StructField("definiteness", T.StringType()),
    T.StructField("cardinality", T.DoubleType()),
    T.StructField("group_id", T.LongType()),
    T.StructField("coref_type", T.StringType()),
    T.StructField("antecedent", T.StringType()),
    T.StructField("infstat", T.StringType()),
    T.StructField("head_id", T.IntegerType()),
    T.StructField("head_func", T.StringType()),
    T.StructField("head_lemma", T.StringType()),
    T.StructField("head_parent", T.IntegerType()),
    T.StructField("sent_num", T.IntegerType()),
    T.StructField("coordinate", T.BooleanType()),
])

# The kernel stage emits LONG format: one flat row per document ('d',
# carrying the metrics/lineage fields), per mention ('m'), per verb ('v'),
# per chain ('c') and per triple ('t').  A nested array<struct> checkpoint
# was measured 4.3x slower to consume (nested cells defeat column
# pruning); long-format parquet keeps each field a prunable column and the
# checkpoint remains ONE table for resume.  A chain row reuses group_id
# and entity (the chain's), a triple row sent_num and verb_id; the other
# chain and triple fields have columns of their own, named and typed as in
# the chains and triples tables.
KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("row_type", T.StringType()),  # 'd' | 'm' | 'v' | 'c' | 't'
        T.StructField("text_sha256", T.StringType()),
        T.StructField("n_sentences", T.IntegerType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("kernel_ms", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
    + list(MENTION_STRUCT.fields)
    + [
        T.StructField("verb_id", T.IntegerType()),
        T.StructField("verb_lemma", T.StringType()),
        # chain rows
        T.StructField("n_mentions", T.LongType()),
        T.StructField("mention_ids", T.ArrayType(T.StringType())),
        T.StructField("canonical_text", T.StringType()),
        # triple rows
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("subj_group", T.LongType()),
        T.StructField("obj_group", T.LongType()),
        T.StructField("subj_entity", T.StringType()),
        T.StructField("obj_entity", T.StringType()),
    ])

_MENTION_FIELDS = [f.name for f in MENTION_STRUCT.fields]
#: the chains and triples tables' columns after url (and warc_ts), in
#: order: each is a column of the kernel's 'c' / 't' rows and a key of
#: triples.canonical_mentions' / extract_triples' dicts
_CHAIN_FIELDS = ("group_id", "n_mentions", "entity", "mention_ids", "canonical_text")
_TRIPLE_FIELDS = ("subj", "pred", "obj", "subj_group", "obj_group", "subj_entity",
                  "obj_entity", "sent_num", "verb_id")


# ---------------------------------------------------------------------
# page generation (synthetic Common-Crawl-style input)
# ---------------------------------------------------------------------

def generate_pages(spark: SparkSession, n_docs: int, partitions: int = None) -> DataFrame:
    """Distributed deterministic corpus: each task builds its own pages
    from doc ids — no driver-side materialization."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def build(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .corpus import build_page
        for pdf in iterator:
            pages = [build_page(int(doc_id)) for doc_id in pdf["id"]]
            yield pd.DataFrame(pages, columns=["url", "warc_ts", "html", "text", "lang"])

    return (spark.range(0, n_docs, numPartitions=partitions)
            .mapInPandas(build, schema=PAGES_SCHEMA))


def salt_by_url(df: DataFrame, partitions: int) -> DataFrame:
    """Repartition on the url hash so giant-host key runs cannot pile onto
    one task (north rule: explicit skew handling).

    NB: hash-partitioning on ``pmod(xxhash64(url), partitions)`` is a trap:
    it yields only ``partitions`` distinct key values, which land in bins
    like balls-into-bins (measured: 3 of 8 partitions empty, one carrying
    38% of rows).  Partitioning on the full-width hash keeps placement
    deterministic by url while spreading uniformly."""
    return df.repartition(partitions, F.xxhash64("url"))


# ---------------------------------------------------------------------
# stage 1: html -> text/conllu extraction
# ---------------------------------------------------------------------

#: stage 1: the html decoded once, each of corpus.py's four page markers
#: located once, and the text and conllu slices cut only when all four are
#: present ("" otherwise).  The markers are constants of the page format,
#: written here as literals: as parameter markers they would cost 13 more
#: py4j round trips per plan build
_EXTRACT_SQL = """
    WITH decoded AS (
        SELECT url, warc_ts, lang, text AS page_text,
               try_validate_utf8(CAST(html AS STRING)) AS page
        FROM {pages}
    ), located AS (
        SELECT *, text_at > 0 AND text_end > 0 AND conllu_at > 0 AND conllu_end > 0
                  AS found
        FROM (SELECT *,
                     locate('<article>', page) AS text_at,
                     locate('</article>', page) AS text_end,
                     locate('<!--@conllu\\n', page) AS conllu_at,
                     locate('\\n-->', page) AS conllu_end
              FROM decoded)
    ), cut AS (
        SELECT url, warc_ts, lang, page_text,
               CASE WHEN found THEN substr(
                   page, text_at + char_length('<article>'),
                   text_end - text_at - char_length('<article>')) ELSE '' END AS text,
               CASE WHEN found THEN substr(
                   page, conllu_at + char_length('<!--@conllu\\n'),
                   conllu_end - conllu_at - char_length('<!--@conllu\\n')) ELSE '' END
                   AS conllu
        FROM located
    )
    SELECT url, warc_ts, lang, text, conllu, sha2(text, 256) AS text_sha256,
           -- the per-row invariant: extraction is byte-identical to the
           -- table's text column; null-safe, so a NULL text is a violation
           text <=> page_text AS byte_identical,
           spark_partition_id() AS part_id
    FROM cut"""


def extract_stage(pages: DataFrame) -> DataFrame:
    """Stage 1 as one SQL statement — no Python worker (each Python task
    carries a fixed cost, see _reuse_zip_directories; the extraction
    itself is microseconds per page).

    Same result as corpus.py's Python extractors under the rule
    that any failure (NULL html, invalid UTF-8, a missing marker) gives
    ("", ""): the html is decoded once by ``try_validate_utf8``, which
    rejects exactly what a strict ``bytes.decode("utf8")`` rejects, and
    ``locate``/``substr`` count code points as Python indexes do, a close
    marker before its open marker giving "" as Python's slice does
    (differential test: tests/test_extract_sql.py)."""
    return pages.sparkSession.sql(_EXTRACT_SQL, pages=pages)


TOKENS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("tid", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("lemma", T.StringType()),
    T.StructField("pos", T.StringType()),
    T.StructField("head", T.IntegerType()),
    T.StructField("func", T.StringType()),
    T.StructField("sent_num", T.IntegerType()),
])


def tokens_stage(extracted: DataFrame) -> DataFrame:
    """Long-format token table (url, tid, text, lemma, pos, head, func,
    sent_num) for SQL-side corpus analytics, over the extract stage
    output (its url and conllu columns)."""
    def run(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            rows = []
            for rec in pdf.itertuples(index=False):
                offset = 0
                in_sentence = 0
                sent_num = 1
                for line in rec.conllu.split("\n"):
                    if "\t" not in line:
                        if in_sentence:
                            offset += in_sentence
                            sent_num += 1
                            in_sentence = 0
                        continue
                    cols = line.split("\t")
                    if "." in cols[0] or "-" in cols[0]:
                        continue
                    in_sentence += 1
                    head = 0 if cols[6] == "0" else int(cols[6]) + offset
                    rows.append({"url": rec.url, "tid": int(cols[0]) + offset,
                                 "text": cols[1], "lemma": cols[2], "pos": cols[3],
                                 "head": head, "func": cols[7], "sent_num": sent_num})
            yield pd.DataFrame(rows, columns=[f.name for f in TOKENS_SCHEMA.fields])

    return extracted.select("url", "conllu").mapInPandas(run, schema=TOKENS_SCHEMA)


def child_info_sql(tokens: DataFrame) -> DataFrame:
    """SQL analogue of the kernel's child-info aggregation (reference
    xrenner_preprocess.py:27-46 as a self-join + sorted collect,
    SURVEY.md §2.2)."""
    child = tokens.select(F.col("url").alias("c_url"),
                          F.col("head").alias("c_head"),
                          F.col("func").alias("c_func"),
                          F.col("text").alias("c_text"))
    return (tokens.join(child, (tokens.url == child.c_url)
                        & (tokens.tid == child.c_head), "inner")
            .groupBy("url", "tid")
            .agg(F.concat_ws(";", F.sort_array(F.collect_list("c_func")))
                 .alias("child_funcs"),
                 F.concat_ws(";", F.sort_array(F.collect_list("c_text")))
                 .alias("child_strings"),
                 F.count("*").alias("n_children")))


def descendants_closure_sql(tokens: DataFrame, max_depth: int = 12) -> DataFrame:
    """Transitive closure of the dependency child relation as ONE
    declarative ``WITH RECURSIVE`` query (the SQL analogue of reference
    xrenner_classes.py:305-320; SURVEY.md §2.7) — Spark 4.1's native
    recursive CTE executes the fixpoint inside the engine (UnionLoop),
    replacing the round-3 driver-paced frontier loop and its per-level
    persist/isEmpty probes entirely.

    Dependency edges form a FOREST (one parent per node), so every
    (ancestor, descendant) pair is derived along exactly one path and
    UNION ALL never duplicates — no distinct needed.  Iteration count
    is bounded by tree depth (~12 for natural-language parses), not by
    corpus size.

    CONTRACT (round-5 advice): ``max_depth`` is a hard recursion cap —
    unlike the round-3 frontier loop (which silently truncated) and the
    DuckDB oracle twin (which has no cap), Spark RAISES
    ``RECURSION_LEVEL_LIMIT_EXCEEDED`` when a tree is deeper than
    ``max_depth`` or the input contains a head cycle.  That throw is
    deliberate: a silent truncation would return an incomplete closure
    that hashes differently from the oracle, and cyclic input is
    malformed (the kernel's in-memory closure rejects it too).  Callers
    with legitimately deeper trees pass a larger ``max_depth``; the
    default 12 covers natural-language parses with slack.  The
    production path remains the kernel's per-document in-memory
    closure; this operator exists for SQL-side tree analytics and is
    oracle-checked against a DuckDB WITH RECURSIVE twin."""
    return tokens.sparkSession.sql("""
        WITH RECURSIVE closure(url, ancestor, descendant)
        MAX RECURSION LEVEL {max_level} AS (
            SELECT url, head AS ancestor, tid AS descendant
            FROM {tokens} WHERE head > 0
            UNION ALL
            SELECT c.url, c.ancestor, e.tid AS descendant
            FROM closure c JOIN {tokens} e
              ON c.url = e.url AND c.descendant = e.head
        )
        SELECT url, ancestor, descendant FROM closure
    """, max_level=int(max_depth) + 1, tokens=tokens)


# ---------------------------------------------------------------------
# stage 2: the per-document kernel, and the one loop every sink runs
# ---------------------------------------------------------------------

#: the extract columns a per-document sink reads
_DOC_COLS = ("url", "warc_ts", "lang", "conllu", "text_sha256", "byte_identical")


def analyze_page(url: str, conllu: str, byte_identical: bool, lex):
    """The per-document work of every sink: the byte-identity gate, one
    depedit rewrite and the (windowed) kernel.  Returns ``(result,
    rewritten conllu)``; raises on a page that fails any of them."""
    if not byte_identical:
        raise ValueError("byte-identity violation for " + url)
    if lex.depedit is not None:  # rewrite once for every consumer
        conllu = lex.depedit.run(conllu)
    return analyze_document_windowed(url, conllu, lex, pre_rewritten=True), conllu


def _reuse_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` changed since it was last read.

    A reused PySpark worker calls ``importlib.invalidate_caches()`` before
    every task, and the stdlib zipimporter answers by re-reading its whole
    archive's central directory: ``pyspark.zip`` once per imported
    subpackage path plus the spark-core jar, 155-390 ms per task
    measured on a 4-core host.  A changed or replaced archive is still
    re-read, a new archive still gets a new importer, and an archive that
    cannot be stat'ed takes the stdlib path.  Idempotent; installed once
    per worker process by the kernel loop."""
    import os
    import zipimport

    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "reads_changed_only", False) \
            or not hasattr(zipimport, "_zip_directory_cache"):
        return  # installed, or a zipimport this hook does not know
    stdlib = cls.invalidate_caches
    last_read = {}  # archive -> ((st_mtime_ns, st_size), directory)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            last_read.pop(self.archive, None)
            return stdlib(self)
        stamp = (st.st_mtime_ns, st.st_size)
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        stdlib(self)
        if self.archive in zipimport._zip_directory_cache:  # read succeeded
            last_read[self.archive] = (stamp, self._files)
        else:
            last_read.pop(self.archive, None)

    invalidate_caches.reads_changed_only = True
    cls.invalidate_caches = invalidate_caches


def _map_docs(extracted: DataFrame, lex_broadcast, schema: T.StructType,
              emit, reuse_repeats: bool = False) -> DataFrame:
    """The one Python position behind every sink: a ``mapInArrow`` over
    the extract columns that runs analyze_page once per document, timed
    and isolated (one bad page must not kill the job: its exception
    becomes ``error = repr(exc)[:500]`` with ``result = None``), and
    calls ``emit(out, doc, result, error)``.

    ``out`` maps each ``schema`` column to a list for emit to extend;
    ``doc`` is the extract row as a dict plus ``part_id`` (this task's
    partition) and ``kernel_ms``, its ``conllu`` rewritten when the page
    was analyzed.  Each input batch becomes one output RecordBatch built
    from those column lists: output rows are never built as dicts or as
    a pandas frame.

    ``reuse_repeats`` (dedup_kernel_stage's sorted input only): a document
    whose kernel input (text_sha256, conllu, byte_identical) equals the
    previous document's reuses that analysis, its result, rewritten
    conllu and kernel_ms, if it succeeded.  A failed page is analyzed
    again, so its error names its own url."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(schema)

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        _reuse_zip_directories()  # for this worker's next tasks
        lex = lex_broadcast.value
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        # the kernel input and (result, conllu, kernel_ms) of the last success
        last_key = last = None
        for batch in batches:
            out = {name: [] for name in out_schema.names}
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                doc = dict(zip(batch.schema.names, values), part_id=part_id)
                key = (doc["text_sha256"], doc["conllu"], doc["byte_identical"])
                if reuse_repeats and key == last_key:
                    result, doc["conllu"], doc["kernel_ms"] = last
                    emit(out, doc, result, "")
                    continue
                t0 = time.perf_counter()
                try:
                    result, doc["conllu"] = analyze_page(
                        doc["url"], doc["conllu"], doc["byte_identical"], lex)
                    error = ""
                except Exception as exc:  # per-doc isolation
                    result, error = None, repr(exc)[:500]
                doc["kernel_ms"] = (time.perf_counter() - t0) * 1000.0
                last_key = key if result is not None else None
                last = result, doc["conllu"], doc["kernel_ms"]
                emit(out, doc, result, error)
            yield pa.RecordBatch.from_pydict(out, schema=out_schema)

    return extracted.select(*_DOC_COLS).mapInArrow(run, schema=schema)


def _append_rows(out: dict, rows) -> None:
    """Append row tuples (in ``out``'s column order) to ``out``."""
    for values, name in zip(zip(*rows), out):
        out[name].extend(values)


def _emit_kernel(out: dict, doc: dict, result, error: str) -> None:
    """Long-format kernel rows for one document: its doc row, then its
    mention, verb, chain and triple rows.  Every column is first extended
    by the document's row count of NULLs, then each row type's columns
    overwrite their slice.  The chain and triple rows are
    triples.canonical_mentions and extract_triples over this document's
    mentions and verbs, the task's own data, so the chains and triples
    tables are filters of this table with no exchange."""
    if result is None:
        mentions, verbs, chains, triples, n_sent, n_tok = [], [], [], [], 0, 0
    else:
        mentions = result.mentions
        verbs = sorted(parse_verbs(doc["conllu"]).items())
        by_group = canonical_mentions(mentions)
        triples = extract_triples(mentions, dict(verbs), by_group)
        chains = list(by_group.values())
        n_sent, n_tok = result.n_sentences, result.n_tokens
    blocks = (
        ("d", 1, {"text_sha256": [doc["text_sha256"]], "n_sentences": [n_sent],
                  "n_tokens": [n_tok], "kernel_ms": [doc["kernel_ms"]],
                  "error": [error]}),
        ("m", len(mentions), {k: [m[k] for m in mentions] for k in _MENTION_FIELDS}),
        ("v", len(verbs), {"verb_id": [tid for tid, _ in verbs],
                           "verb_lemma": [lemma for _, lemma in verbs]}),
        ("c", len(chains), {k: [c[k] for c in chains] for k in _CHAIN_FIELDS}),
        ("t", len(triples), {k: [t[k] for t in triples] for k in _TRIPLE_FIELDS}),
    )
    base = len(out["url"])
    n = sum(count for _, count, _ in blocks)
    nulls = [None] * n
    for column in out.values():
        column.extend(nulls)
    for k in ("url", "warc_ts", "lang", "part_id"):
        out[k][base:] = [doc[k]] * n
    out["row_type"][base:] = [t for t, count, _ in blocks for _ in range(count)]
    start = base
    for _, count, columns in blocks:
        for k, values in columns.items():
            out[k][start:start + count] = values
        start += count


def kernel_stage(extracted: DataFrame, lex_broadcast,
                 reuse_repeats: bool = False) -> DataFrame:
    """Stage 2 over extract output: KERNEL_SCHEMA long rows per document.
    A page that fails (byte-identity, depedit or the kernel) yields only
    its doc row, with the error and the extract's ``text_sha256``.
    ``reuse_repeats`` is dedup_kernel_stage's (see _map_docs)."""
    return _map_docs(extracted, lex_broadcast, KERNEL_SCHEMA, _emit_kernel,
                     reuse_repeats)


#: dedup_kernel_stage's input order: the extract rows hash-partitioned on
#: text_sha256 into ``tasks`` partitions, each sorted on the kernel input.
#: A partition count, not DISTRIBUTE BY: AQE would coalesce that shuffle
#: of a small input into one task
_DEDUP_ORDER_SQL = """
    SELECT /*+ REPARTITION({tasks}, text_sha256) */ *
    FROM {extracted}
    SORT BY text_sha256, conllu, byte_identical"""


def dedup_kernel_stage(extracted: DataFrame, lex_broadcast) -> DataFrame:
    """The kernel stage, analyzing each distinct page payload once for
    all its copies: the classic web-corpus lever (real crawls are
    commonly 30-60% exact-duplicate pages; the reference recomputes per
    file, no equivalent).

    One statement hash-partitions the extract rows on ``text_sha256``
    into one task per core and sorts each task on the kernel input
    (text_sha256, conllu, byte_identical); kernel_stage's loop then
    reuses the previous document's successful analysis for each copy.
    So all copies of one payload share one task, and each copy after the
    first costs one emit, not one analysis.  The rows equal kernel_stage's
    in every column except ``part_id`` and ``kernel_ms`` (a copy carries
    the analysis' kernel_ms): every copy has its own url, warc_ts and
    lang, a failing copy's error names its own url, and a url re-crawled
    with new content is a different payload.  The plan has one exchange
    and no join.
    """
    spark = extracted.sparkSession
    ordered = spark.sql(_DEDUP_ORDER_SQL, extracted=extracted,
                        tasks=spark.sparkContext.defaultParallelism)
    return kernel_stage(ordered, lex_broadcast, reuse_repeats=True)


SERIALIZE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("filename", T.StringType()),   # PAULA is multi-file; else ""
    T.StructField("payload", T.StringType()),
])

#: formats serialize_stage accepts -> output.py serializer
_SERIALIZERS = ("sgml", "conll", "conll_sent", "onto", "html",
                "webanno", "webannotsv", "paula")


def serialize_stage(pages: DataFrame, lex_broadcast,
                    formats=("sgml",)) -> DataFrame:
    """Distributed serialization sink: extract -> kernel -> the
    byte-exact reference serializers (output.py), in ONE python
    position, emitting one (url, fmt, filename, payload) row per
    document per format (per file for PAULA's multi-file standoff) and
    one (url, "error", "", repr) row per failed page.  Documents are
    independent, so this scales exactly like the kernel stage; payloads
    stream straight to any writer (parquet/text sink).  The driver
    oracle for the sgml path is a committed reference-engine export
    (scripts/make_ref_serialized.py), same pattern as kg_mentions."""
    from . import output as out_mod

    unknown = set(formats) - set(_SERIALIZERS)
    if unknown:
        raise ValueError("unknown serialization formats: %s" % sorted(unknown))

    def emit(out, doc, result, error):
        url = doc["url"]
        if result is None:
            return _append_rows(out, [(url, "error", "", error)])
        docname = url.rsplit("/", 1)[-1]
        for fmt in formats:
            payload = out_mod.serialize_result(result, docname, fmt)
            files = payload.items() if fmt == "paula" else [("", payload)]
            _append_rows(out, [(url, fmt, fn, data) for fn, data in files])

    return _map_docs(extract_stage(pages), lex_broadcast, SERIALIZE_SCHEMA, emit)


DUMP_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("line", T.StringType()),
])


def training_dump_stage(pages: DataFrame, lex_broadcast) -> DataFrame:
    """Training-data dump sink, distributed: one row per candidate-pair
    feature line (reference lex.dump file sink, xrenner_compatible.py:
    591-620), keyed by url; failed pages are skipped.  The broadcast lex
    must carry ``dump=True``; headers are fixed by the feature schema
    (DocResult.dump_headers).  Line content is deterministic; within-doc
    order is not meaningful (see make_dump_goldens.py) so a parquet/TSV
    writer downstream is free to partition however it likes."""
    def emit(out, doc, result, error):
        if result is not None:
            _append_rows(out, [(doc["url"], line) for line in result.dump_rows])

    return _map_docs(extract_stage(pages), lex_broadcast, DUMP_SCHEMA, emit)


#: per-partition lineage of each checkpointed stage, by stage name
_LINEAGE_SQL = {
    "extract": """
        SELECT part_id, count(*) AS rows_out, min(url) AS url_min, max(url) AS url_max,
               sum(CASE WHEN NOT byte_identical THEN 1 ELSE 0 END)
                   AS invariant_violations,
               'extract' AS stage
        FROM {stage_df}
        GROUP BY part_id""",
    "kernel": """
        SELECT part_id, sum(CASE WHEN row_type = 'd' THEN 1 ELSE 0 END) AS rows_out,
               min(url) AS url_min, max(url) AS url_max, sum(kernel_ms) AS wall_ms,
               sum(CASE WHEN row_type = 'm' THEN 1 ELSE 0 END) AS mentions_out,
               sum(CASE WHEN error != '' THEN 1 ELSE 0 END) AS errors,
               'kernel' AS stage
        FROM {stage_df}
        GROUP BY part_id""",
}


def lineage_of(stage_df: DataFrame, stage: str) -> DataFrame:
    """Per-partition lineage/metrics rows (north rule) of the ``extract``
    or ``kernel`` stage output."""
    return stage_df.sparkSession.sql(_LINEAGE_SQL[stage], stage_df=stage_df)


# ---------------------------------------------------------------------
# stage 3: chains + triples, filters of the kernel table
# ---------------------------------------------------------------------

# The views and chains_stage/triples_stage are the only definition of the
# kernel table's mention, verb, doc, chain and triple rows; the chain and
# triple rows themselves come from _emit_kernel (triples.py's rules).
# spark.sql registers and drops a temp view per DataFrame keyword argument.

_MENTIONS_SQL = "SELECT url, warc_ts, %s FROM {kernel_out} WHERE row_type = 'm'" \
    % ", ".join("`%s`" % name for name in _MENTION_FIELDS)
_VERBS_SQL = "SELECT url, verb_id, verb_lemma FROM {kernel_out} WHERE row_type = 'v'"
_DOCS_SQL = """
    SELECT url, warc_ts, lang, part_id, text_sha256, n_sentences, n_tokens,
           kernel_ms, error
    FROM {kernel_out} WHERE row_type = 'd'"""
_CHAIN_ROWS_SQL = "SELECT url, %s FROM {kernel_out} WHERE row_type = 'c'" \
    % ", ".join(_CHAIN_FIELDS)
_TRIPLE_ROWS_SQL = "SELECT url, warc_ts, %s FROM {kernel_out} WHERE row_type = 't'" \
    % ", ".join(_TRIPLE_FIELDS)


def mentions_view(kernel_out: DataFrame) -> DataFrame:
    """One row per mention (filter + prune of the long-format table —
    only the referenced columns reach the checkpoint scan)."""
    return kernel_out.sparkSession.sql(_MENTIONS_SQL, kernel_out=kernel_out)


def verbs_view(kernel_out: DataFrame) -> DataFrame:
    """One row per verb: (url, verb_id, verb_lemma)."""
    return kernel_out.sparkSession.sql(_VERBS_SQL, kernel_out=kernel_out)


def docs_view(kernel_out: DataFrame) -> DataFrame:
    """One row per document: the metrics/lineage/error fields."""
    return kernel_out.sparkSession.sql(_DOCS_SQL, kernel_out=kernel_out)


def chains_stage(kernel_out: DataFrame) -> DataFrame:
    """The kernel table's chain rows (triples.canonical_mentions per
    document, emitted by the kernel loop): the chains table."""
    return kernel_out.sparkSession.sql(_CHAIN_ROWS_SQL, kernel_out=kernel_out)


def triples_stage(kernel_out: DataFrame) -> DataFrame:
    """The kernel table's triple rows (triples.extract_triples per
    document, emitted by the kernel loop): the triples table."""
    return kernel_out.sparkSession.sql(_TRIPLE_ROWS_SQL, kernel_out=kernel_out)


# ---------------------------------------------------------------------
# orchestration with checkpoint/resume
# ---------------------------------------------------------------------

def _checkpoint(cat: Catalog, stage: str, schema: T.StructType, resume: bool,
                build) -> DataFrame:
    """Table ``stage_<stage>`` read back, written from ``build()`` first
    unless resuming from an existing one, plus its ``_lineage_<stage>``.
    Lineage is a pure function of the checkpoint, so a lineage table lost
    to a crash between the two writes is rebuilt exactly on resume."""
    name = "stage_" + stage
    fresh = not (resume and cat.exists(name))
    if fresh:
        cat.write(build(), name)
    else:
        _check_stored_fields(cat, name, schema)
    out = cat.read(name, schema)
    if fresh or not cat.exists("_lineage_" + stage):
        cat.write(lineage_of(out, stage), "_lineage_" + stage)
    return out


def _check_stored_fields(cat: Catalog, name: str, schema: T.StructType) -> None:
    """Refuse to resume from a checkpoint whose stored fields are not
    ``schema``'s: read with ``schema``, a table written by an older
    version of this stage would silently lack what the stage now emits
    (a ``stage_kernel`` without chain and triple rows gives empty chains
    and triples).  Reads the stored schema, one job."""
    stored = [(f.name, f.dataType) for f in cat.read(name).schema.fields]
    if stored != [(f.name, f.dataType) for f in schema.fields]:
        raise ValueError(
            "%s in %s was written with other fields than this version's "
            "(%s); pass resume=False (run_kg --no-resume) to recompute it"
            % (name, cat.warehouse, ", ".join(
                "%s %s" % (n, t.simpleString()) for n, t in stored)))


def kg_pass(cat: Catalog, pages: DataFrame, lex_broadcast,
            partitions: int = None, resume: bool = True,
            dedup_kernel_inputs: bool = False) -> DataFrame:
    """One KG pass of ``pages`` into ``cat``'s tables (the extract and
    kernel checkpoints with their lineage, then chains and triples);
    returns the written triples.  ``lex_broadcast()`` gives the broadcast
    model and is called only when the kernel runs."""
    if partitions is None:
        partitions = max(cat.spark.sparkContext.defaultParallelism, 8)

    extracted = _checkpoint(cat, "extract", EXTRACT_SCHEMA, resume,
                            lambda: extract_stage(salt_by_url(pages, partitions)))

    def kernel():
        bcast = lex_broadcast()
        return (dedup_kernel_stage(extracted, bcast) if dedup_kernel_inputs
                else kernel_stage(extracted, bcast))

    kernel_out = _checkpoint(cat, "kernel", KERNEL_SCHEMA, resume, kernel)

    # two filters of the checkpoint, independent of each other: each is
    # written unless resuming with it present
    chains, triples = chains_stage(kernel_out), triples_stage(kernel_out)
    for name, table in (("chains", chains), ("triples", triples)):
        if not (resume and cat.exists(name)):
            cat.write(table, name)
    return cat.read("triples", triples.schema)


def run_pipeline(spark: SparkSession, pages: DataFrame, warehouse: str,
                 partitions: int = None, lex_dir: Optional[str] = None,
                 resume: bool = True, rule_based: bool = False,
                 no_seq: bool = False,
                 override: Optional[str] = None,
                 dedup_kernel_inputs: bool = False) -> DataFrame:
    """Full run: returns the triples DataFrame (already persisted).

    With ``resume=True``, stages whose checkpoint tables exist in the
    warehouse are skipped and read back — kill/rerun produces identical
    output without recomputing finished stages.

    ``dedup_kernel_inputs=True`` runs dedup_kernel_stage: the copies of
    a page payload share one kernel task and one analysis, and each copy
    after the first costs one emit; the rows differ from the plain pass
    only in ``part_id`` and ``kernel_ms``.
    """
    cat = Catalog(spark, warehouse)
    if resume and cat.exists("stage_kernel") and (
            lex_dir or rule_based or no_seq or override):
        import sys
        sys.stderr.write(
            "WARNING: stage_kernel checkpoint exists; lex_dir/rule_based/"
            "no_seq/override have NO effect on resumed output — "
            "pass resume=False (run_kg --no-resume) to recompute "
            "under the requested model mode\n")

    def lex_broadcast():
        return spark.sparkContext.broadcast(load_lex(
            lex_dir, rule_based=rule_based, no_seq=no_seq, override=override))

    return kg_pass(cat, pages, lex_broadcast, partitions, resume,
                   dedup_kernel_inputs)
