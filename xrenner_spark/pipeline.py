"""The Spark KG-construction pipeline.

Stage graph (SURVEY.md §3.4):

    pages (url, warc_ts, html, text, lang)
      │  salted repartition by xxhash64(url)            [defeats url skew]
      ▼
    stage 1  extract: Spark SQL html→(text, conllu); byte-identity check
      │  (Catalyst expressions only — no Python worker)
      │  checkpoint: table stage_extract + _lineage_extract
      ▼
    stage 2  kernel: mapInArrow (_map_docs) per-document mention/entity/coref
      │  kernel (analyze_page); long format: one row per doc, mention and
      │  verb + kernel_ms
      │  checkpoint: table stage_kernel + _lineage_kernel
      ▼
    stage 3  SQL: chains groupBy(url, group_id) with canonicalization agg
      │  → chains table, written FIRST
      ▼
             verb-argument join against the written chains → triples table

Every stage is resumable: if its checkpoint table exists (same run_dir),
it is read back instead of recomputed, so a killed job restarted with the
same warehouse continues where it left off and produces byte-identical
triples and chains (verified in tests/test_pipeline_spark.py).

Per-row Python runs only where it cannot be avoided — the kernel — and
in one place: every sink (kernel_stage, fused_extract_kernel_stage,
serialize_stage, training_dump_stage) is SQL extract_stage followed by
the single _map_docs loop, which runs analyze_page once per document
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
from .triples import parse_verbs

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
# carrying the metrics/lineage fields), per mention ('m') and per verb
# ('v').  A nested array<struct> checkpoint was measured 4.3x slower to
# consume (the triples stage re-decodes every 21-field mention struct on
# each of its three scans, and nested cells defeat column pruning);
# long-format parquet keeps each field a prunable column and the
# checkpoint remains ONE table for resume.
KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("row_type", T.StringType()),  # 'd' | 'm' | 'v'
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
    ])

_MENTION_FIELDS = [f.name for f in MENTION_STRUCT.fields]
_KERNEL_COLS = [f.name for f in KERNEL_SCHEMA.fields]


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

def _between(s, open_marker: str, close_marker: str):
    """SQL twin of ``s[s.index(open) + len(open):s.index(close)]`` (the
    slice corpus.py's Python extractors take): NULL where Python raises
    (NULL ``s`` or a missing marker), "" where the close marker comes
    first."""
    start = F.locate(open_marker, s) + len(open_marker)   # 1-based; 0 = absent
    end = F.locate(close_marker, s)
    return F.when((start > len(open_marker)) & (end > 0), s.substr(start, end - start))


def extract_stage(pages: DataFrame) -> DataFrame:
    """Stage 1 as Catalyst expressions — no Python worker (each Python
    task carries a fixed cost of ~0.2 s on a 4-core host; the extraction
    itself is microseconds per page).

    Same result as corpus.py's Python extractors under the rule
    that any failure (NULL html, invalid UTF-8, a missing marker) gives
    ("", ""): the html is decoded once by ``try_validate_utf8``, which
    rejects exactly what a strict ``bytes.decode("utf8")`` rejects, and
    ``locate``/``substring`` count code points as Python indexes do
    (differential test: tests/test_extract_sql.py)."""
    decoded = pages.select(
        "url", "warc_ts", "lang", F.col("text").alias("page_text"),
        F.try_validate_utf8(F.col("html").cast("string")).alias("page"))
    text = _between(F.col("page"), "<article>", "</article>")
    conllu = _between(F.col("page"), "<!--@conllu\n", "\n-->")
    both = text.isNotNull() & conllu.isNotNull()
    cut = decoded.select(
        "url", "warc_ts", "lang", "page_text",
        F.when(both, text).otherwise("").alias("text"),
        F.when(both, conllu).otherwise("").alias("conllu"))
    return cut.select(
        "url", "warc_ts", "lang", "text", "conllu",
        F.sha2("text", 256).alias("text_sha256"),
        # the per-row invariant: extraction is byte-identical to the
        # table's text column; null-safe, so a NULL text is a violation
        F.col("text").eqNullSafe(F.col("page_text")).alias("byte_identical"),
        F.spark_partition_id().alias("part_id"))


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


_DESC_VIEW_SEQ = 0


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
    spark = tokens.sparkSession
    # per-call unique view name: a fixed name is session-global state
    # that concurrent callers (or a caller's own later query) would
    # silently rebind mid-plan
    global _DESC_VIEW_SEQ
    _DESC_VIEW_SEQ += 1
    view = "_descendants_tokens_%d" % _DESC_VIEW_SEQ
    tokens.createOrReplaceTempView(view)
    return spark.sql("""
        WITH RECURSIVE closure(url, ancestor, descendant)
        MAX RECURSION LEVEL {max_level} AS (
            SELECT url, head AS ancestor, tid AS descendant
            FROM {view} WHERE head > 0
            UNION ALL
            SELECT c.url, c.ancestor, e.tid AS descendant
            FROM closure c JOIN {view} e
              ON c.url = e.url AND c.descendant = e.head
        )
        SELECT url, ancestor, descendant FROM closure
    """.format(max_level=max_depth + 1, view=view))


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


def _map_docs(extracted: DataFrame, lex_broadcast, schema: T.StructType,
              emit) -> DataFrame:
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
    a pandas frame."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(schema)

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        lex = lex_broadcast.value
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        for batch in batches:
            out = {name: [] for name in out_schema.names}
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                doc = dict(zip(batch.schema.names, values), part_id=part_id)
                t0 = time.perf_counter()
                try:
                    result, doc["conllu"] = analyze_page(
                        doc["url"], doc["conllu"], doc["byte_identical"], lex)
                    error = ""
                except Exception as exc:  # per-doc isolation
                    result, error = None, repr(exc)[:500]
                doc["kernel_ms"] = (time.perf_counter() - t0) * 1000.0
                emit(out, doc, result, error)
            yield pa.RecordBatch.from_pydict(out, schema=out_schema)

    return extracted.select(*_DOC_COLS).mapInArrow(run, schema=schema)


def _append_rows(out: dict, rows) -> None:
    """Append row tuples (in ``out``'s column order) to ``out``."""
    for values, name in zip(zip(*rows), out):
        out[name].extend(values)


def _emit_kernel(out: dict, doc: dict, result, error: str) -> None:
    """Long-format kernel rows for one document, one bulk extend per
    column: constant-per-doc columns as repeated slices, mention columns
    as comprehensions."""
    if result is None:
        mentions, verbs, n_sent, n_tok = [], [], 0, 0
    else:
        mentions = result.mentions
        verbs = sorted(parse_verbs(doc["conllu"]).items())
        n_sent, n_tok = result.n_sentences, result.n_tokens
    n_m, n_v = len(mentions), len(verbs)
    n = 1 + n_m + n_v
    for k in ("url", "warc_ts", "lang", "part_id"):
        out[k].extend([doc[k]] * n)
    out["row_type"].extend(["d"] + ["m"] * n_m + ["v"] * n_v)
    # doc-row-only metrics columns
    pad = [None] * (n_m + n_v)
    for k, v in (("text_sha256", doc["text_sha256"]), ("n_sentences", n_sent),
                 ("n_tokens", n_tok), ("kernel_ms", doc["kernel_ms"]),
                 ("error", error)):
        out[k].extend([v] + pad)
    # mention columns: null for 'd', values, null for 'v'
    v_pad = [None] * n_v
    for k in _MENTION_FIELDS:
        out[k].extend([None] + [m[k] for m in mentions] + v_pad)
    # verb columns: null for 'd' and 'm', values
    dm_pad = [None] * (1 + n_m)
    out["verb_id"].extend(dm_pad + [tid for tid, _ in verbs])
    out["verb_lemma"].extend(dm_pad + [lemma for _, lemma in verbs])


def kernel_stage(extracted: DataFrame, lex_broadcast) -> DataFrame:
    """Stage 2 over extract output: KERNEL_SCHEMA long rows per document.
    A page that fails (byte-identity, depedit or the kernel) yields only
    its doc row, with the error and the extract's ``text_sha256``."""
    return _map_docs(extracted, lex_broadcast, KERNEL_SCHEMA, _emit_kernel)


def dedup_kernel_stage(extracted: DataFrame, lex_broadcast) -> DataFrame:
    """Run the kernel ONCE per distinct page payload and join the rows
    back to every copy — the classic web-corpus lever (real crawls are
    commonly 30-60% exact-duplicate pages; the reference recomputes per
    file, no equivalent).

    Shape at scale: one full-payload shuffle (the row_number window on
    payload_key) REPLACES kernel compute on every duplicate; the
    join-back moves only long-format kernel rows (~tens per doc), keyed
    by payload_key, so a viral page with millions of copies is an AQE
    skew-join case, not a compute cliff.  Output rows carry the COPY's
    url/warc_ts/lang and the representative's kernel results; they are
    value-identical to the non-dedup path for every mention/verb/doc
    field except the lineage metrics (part_id, kernel_ms — computed
    once, on the representative) and the docname embedded in per-doc
    ``error`` strings (the payload key itself — deterministic, and
    unique even when one url appears with two different payloads, the
    re-crawled-page case that a url-keyed join-back would cross-match;
    r5 advice).  Covered by test_pipeline_spark.
    """
    from pyspark.sql import Window

    # key on the exact kernel input: extracted text, conllu payload AND
    # the byte-identity flag (analyze_page rejects a violating copy, so
    # it must not share a representative with an intact one)
    keyed = extracted.withColumn(
        "payload_key",
        F.sha2(F.concat(F.col("text_sha256"), F.sha2(F.col("conllu"), 256),
                        F.col("byte_identical").cast("string")), 256))
    w = Window.partitionBy("payload_key").orderBy("url")
    reps = (keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))
    # the kernel runs with payload_key AS the docname: the join-back is
    # then keyed on payload_key directly (unique per representative by
    # construction) instead of the representative's url, which is NOT
    # unique across payload groups when a url re-appears with changed
    # content
    rep_in = reps.withColumn("url", F.col("payload_key")).drop("payload_key")
    rep_rows = kernel_stage(rep_in, lex_broadcast)
    rep_rows_keyed = (rep_rows.withColumnRenamed("url", "payload_key")
                      .drop("warc_ts", "lang"))
    copies = keyed.select("payload_key", "url", "warc_ts", "lang")
    return (rep_rows_keyed.join(copies, "payload_key")
            .select(*_KERNEL_COLS))


def fused_extract_kernel_stage(pages: DataFrame, lex_broadcast) -> DataFrame:
    """Extraction + kernel with ONE Python position and no checkpoint in
    between (bench, streaming, the driver queries).  Chaining two Python
    evaluations in one Spark stage runs two python workers per task
    back-to-back (~10x slower measured); extract_stage is Catalyst
    only, so this plan crosses the UDF boundary once."""
    return kernel_stage(extract_stage(pages), lex_broadcast)


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


def lineage_of(stage_df: DataFrame, stage: str) -> DataFrame:
    """Per-partition lineage/metrics rows (north rule)."""
    if "row_type" in stage_df.columns:  # long-format kernel output
        aggs = [
            F.sum(F.when(F.col("row_type") == "d", 1).otherwise(0))
            .alias("rows_out"),
            F.min("url").alias("url_min"),
            F.max("url").alias("url_max"),
            F.sum("kernel_ms").alias("wall_ms"),
            F.sum(F.when(F.col("row_type") == "m", 1).otherwise(0))
            .alias("mentions_out"),
            F.sum(F.when(F.col("error") != "", 1).otherwise(0)).alias("errors"),
        ]
        return (stage_df.groupBy("part_id").agg(*aggs)
                .withColumn("stage", F.lit(stage)))
    aggs = [
        F.count("*").alias("rows_out"),
        F.min("url").alias("url_min"),
        F.max("url").alias("url_max"),
    ]
    if "byte_identical" in stage_df.columns:
        aggs += [F.sum(F.when(~F.col("byte_identical"), 1).otherwise(0))
                 .alias("invariant_violations")]
    return (stage_df.groupBy("part_id")
            .agg(*aggs)
            .withColumn("stage", F.lit(stage)))


# ---------------------------------------------------------------------
# stage 3: chains + triples as Spark SQL dataflow
# ---------------------------------------------------------------------

def chains_stage(kernel_out: DataFrame) -> DataFrame:
    """Chain aggregation with canonicalization (groupBy + min_by/max_by;
    same rules as triples.canonical_mentions)."""
    return chains_from_mentions(mentions_view(kernel_out))


def chains_from_mentions(mentions: DataFrame) -> DataFrame:
    """chains_stage over an already-exploded mentions table (also the
    driver-oracle entry point: the DuckDB twin recomputes this aggregation
    over the exported mentions parquet).  Orderings are total — the -end
    tiebreak makes max_by deterministic when two spans share length and
    start — so Spark and DuckDB pick identical canonical strings."""
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


def mentions_view(kernel_out: DataFrame) -> DataFrame:
    """One row per mention (filter + prune of the long-format table —
    only the referenced columns reach the checkpoint scan)."""
    return (kernel_out.filter(F.col("row_type") == "m")
            .select("url", "warc_ts", *_MENTION_FIELDS))


def verbs_view(kernel_out: DataFrame) -> DataFrame:
    return (kernel_out.filter(F.col("row_type") == "v")
            .select("url", "verb_id", "verb_lemma"))


def docs_view(kernel_out: DataFrame) -> DataFrame:
    """One row per document: the metrics/lineage/error fields."""
    return (kernel_out.filter(F.col("row_type") == "d")
            .select("url", "warc_ts", "lang", "part_id", "text_sha256",
                    "n_sentences", "n_tokens", "kernel_ms", "error"))


def triples_stage(kernel_out: DataFrame, subject_func: str = "^[nc]subj",
                  object_func: str = "^(obj|dobj|iobj|obl|nmod)$",
                  chains: Optional[DataFrame] = None) -> DataFrame:
    """(subj, pred, obj) emission: role-tagged verb arguments joined back
    to chain-canonical strings.  All joins are co-keyed on url, so with the
    upstream url-hash partitioning they stay within the same shuffle
    partitioning (AQE coalesces post-shuffle).  ``chains``: the chains
    table of the same kernel output, already computed (run_pipeline
    passes the written one); None aggregates it inside this plan."""
    return triples_from_views(mentions_view(kernel_out), verbs_view(kernel_out),
                              subject_func, object_func, chains=chains)


def triples_from_views(mentions: DataFrame, verbs: DataFrame,
                       subject_func: str = "^[nc]subj",
                       object_func: str = "^(obj|dobj|iobj|obl|nmod)$",
                       chains: Optional[DataFrame] = None) -> DataFrame:
    """triples_stage over already-exploded mentions/verbs views (the
    driver-oracle entry point — same dataflow, input read back from the
    exported parquet instead of the live kernel)."""
    if chains is None:
        chains = chains_from_mentions(mentions)
    canon = chains.select(
        "url", "group_id", "canonical_text", F.col("entity").alias("chain_entity"))

    args = (mentions
            .withColumn("role",
                        F.when(F.regexp_like("head_func", F.lit(subject_func)), "subj")
                        .when(F.regexp_like("head_func", F.lit(object_func)), "obj"))
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
    out = cat.read(name, schema)
    if fresh or not cat.exists("_lineage_" + stage):
        cat.append_lineage(stage, lineage_of(out, stage))
    return out


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

    ``dedup_kernel_inputs=True`` computes the kernel once per distinct
    page payload and joins results back to every copy (see
    dedup_kernel_stage for the scale rationale and the two documented
    lineage-metric differences).
    """
    cat = Catalog(spark, warehouse)
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    extracted = _checkpoint(cat, "extract", EXTRACT_SCHEMA, resume,
                            lambda: extract_stage(salt_by_url(pages, partitions)))

    def kernel():
        lex = load_lex(lex_dir, rule_based=rule_based,
                       no_seq=no_seq, override=override)
        bcast = spark.sparkContext.broadcast(lex)
        return (dedup_kernel_stage(extracted, bcast) if dedup_kernel_inputs
                else kernel_stage(extracted, bcast))

    if resume and cat.exists("stage_kernel") and (
            lex_dir or rule_based or no_seq or override):
        import sys
        sys.stderr.write(
            "WARNING: stage_kernel checkpoint exists; lex_dir/rule_based/"
            "no_seq/override have NO effect on resumed output — "
            "pass resume=False (run_kg --no-resume) to recompute "
            "under the requested model mode\n")
    kernel_out = _checkpoint(cat, "kernel", KERNEL_SCHEMA, resume, kernel)

    if resume and cat.exists("triples"):
        return cat.read("triples")
    # chains first: triples join the written table instead of running
    # the canonicalization aggregation again, and a crash between the
    # two writes leaves chains to reuse rather than a triples table
    # without chains
    chains = chains_stage(kernel_out)
    if not (resume and cat.exists("chains")):
        cat.write(chains, "chains")
    triples = triples_stage(kernel_out, chains=cat.read("chains", chains.schema))
    cat.write(triples, "triples")
    return cat.read("triples", triples.schema)
