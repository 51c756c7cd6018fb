"""Streaming: the availableNow stream over file drops runs the batch
pipeline's pass per micro-batch, so its tables must hold exactly what
run_pipeline writes for the same pages; restarting the stream must not
re-emit processed batches (checkpointed source offsets), and a replayed
batch must overwrite only its own partition."""

import os

from pyspark.sql import functions as F

from xrenner_spark.pipeline import generate_pages


def _drop_pages(spark, path, lo, hi):
    """Append one parquet file covering doc ids [lo, hi) — one WARC-ish
    ingestion drop."""
    import pandas as pd
    from xrenner_spark.corpus import build_page
    rows = [build_page(i) for i in range(lo, hi)]
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(path)


#: every table a micro-batch's pass writes, each under batch_id=<id>
_TABLES = ("triples", "chains", "stage_extract", "stage_kernel",
           "_lineage_extract", "_lineage_kernel")
#: how long a row took: differs between two runs of the same pages
_TIMING_COLS = ("kernel_ms", "wall_ms")


def _rows(df, drop=("batch_id", "part_id") + _TIMING_COLS):
    """The rows of ``df`` without the ``drop`` columns, as a sorted
    multiset; array cells sorted (chains.mention_ids is a collect_list)."""
    df = df.drop(*drop)
    return sorted((tuple(sorted(v) if isinstance(v, list) else v for v in r)
                   for r in df.collect()), key=repr)


def _stream_pages(spark, source):
    from xrenner_spark.pipeline import PAGES_SCHEMA
    return spark.read.schema(PAGES_SCHEMA).parquet(source)


def test_stream_matches_batch(spark, tmp_path):
    """A stream over six page files (two micro-batches at four files per
    trigger) writes, over all batches, the triples, chains and kernel
    rows of one run_pipeline over the same pages."""
    from xrenner_spark.pipeline import run_pipeline
    from xrenner_spark.streaming import stream_pipeline

    source = str(tmp_path / "pages_stream")
    out = str(tmp_path / "out")
    for lo in range(0, 30, 5):
        _drop_pages(spark, source, lo, lo + 5)

    query = stream_pipeline(spark, source, out)
    query.awaitTermination(300)
    stream = lambda t: spark.read.parquet(os.path.join(out, t))
    assert {r.batch_id for r in stream("stage_kernel").select("batch_id")
            .distinct().collect()} == {0, 1}

    wh = str(tmp_path / "wh")
    run_pipeline(spark, _stream_pages(spark, source), wh, resume=False)
    for table in ("triples", "chains", "stage_kernel"):
        got = _rows(stream(table))
        assert got == _rows(spark.read.parquet(os.path.join(wh, table))), table
        assert got, table
    n_triples = stream("triples").count()

    # restart with a new file drop: only the new docs are processed
    _drop_pages(spark, source, 30, 40)
    query2 = stream_pipeline(spark, source, out)
    query2.awaitTermination(300)
    after = stream("triples")
    batch_ids = {r.batch_id for r in after.select("batch_id").distinct().collect()}
    assert after.count() > n_triples  # new triples appended
    # stream restarted from checkpoint: earlier triples not duplicated
    dup_check = (after.groupBy("url", "subj", "pred", "obj", "sent_num")
                 .count().filter("count > 1").count())
    assert dup_check == 0
    assert batch_ids == {0, 1, 2}


def test_stream_replayed_batch_does_not_duplicate_triples(spark, tmp_path):
    """foreachBatch is at-least-once: a batch whose commit is lost is
    replayed under the same batch_id on restart.  The replay must replace
    that batch's rows in every table, not append a second copy, and leave
    the other batches alone."""
    from xrenner_spark.streaming import stream_pipeline

    source = str(tmp_path / "replay_stream")
    out = str(tmp_path / "replay_out")
    for lo in range(0, 10, 2):  # five files: batches 0 (four) and 1 (one)
        _drop_pages(spark, source, lo, lo + 2)
    stream_pipeline(spark, source, out).awaitTermination(300)
    tables = lambda: {t: _rows(spark.read.parquet(os.path.join(out, t)),
                               drop=_TIMING_COLS) for t in _TABLES}
    success = lambda t, b: os.path.getmtime(
        os.path.join(out, t, "batch_id=%d" % b, "_SUCCESS"))
    before = tables()
    assert all(before.values())
    first_batch = {t: success(t, 0) for t in _TABLES}

    # crash between the sink writes and the commit of the last batch
    commits = os.path.join(out, "_checkpoint", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last == 1
    replayed = {t: success(t, last) for t in _TABLES}
    for name in (str(last), ".%d.crc" % last):
        path = os.path.join(commits, name)
        if os.path.exists(path):
            os.remove(path)
    stream_pipeline(spark, source, out).awaitTermination(300)

    assert os.path.exists(os.path.join(commits, str(last)))  # replayed
    assert all(success(t, last) > replayed[t] for t in _TABLES)
    assert {t: success(t, 0) for t in _TABLES} == first_batch
    assert tables() == before


def test_stream_isolates_corrupt_pages(spark, corrupt_pages, tmp_path):
    """A file drop holding the two broken pages: the stream's kernel doc
    rows carry the same errors for the same urls as run_pipeline over the
    same pages, and the stream's kernel lineage counts them."""
    from xrenner_spark.pipeline import docs_view, run_pipeline
    from xrenner_spark.streaming import stream_pipeline

    pages, bad_urls = corrupt_pages()
    source = str(tmp_path / "corrupt_stream")
    out = str(tmp_path / "corrupt_out")
    pages.coalesce(1).write.parquet(source)
    stream_pipeline(spark, source, out).awaitTermination(300)

    run_pipeline(spark, _stream_pages(spark, source), str(tmp_path / "wh"),
                 resume=False)
    errors = lambda path: {r.url: r.error for r in docs_view(
        spark.read.parquet(os.path.join(path, "stage_kernel"))).collect()
        if r.error != ""}
    got = errors(out)
    assert set(got) == bad_urls
    assert got == errors(str(tmp_path / "wh"))
    lineage = spark.read.parquet(os.path.join(out, "_lineage_kernel"))
    assert lineage.selectExpr("sum(errors)").first()[0] == 2


def test_mention_rate_stream_plan(spark):
    """The watermarked aggregation compiles against the kernel schema
    (smoke: batch execution of the same expression tree)."""
    from xrenner_spark.lex import load_lex
    from xrenner_spark.pipeline import extract_stage, kernel_stage
    from xrenner_spark.streaming import mention_rate_stream

    bcast = spark.sparkContext.broadcast(load_lex())
    kernel_out = kernel_stage(
        extract_stage(generate_pages(spark, 25, partitions=2)), bcast)
    rows = mention_rate_stream(kernel_out).collect()
    assert sum(r.docs for r in rows) == 25
    assert all(r.errors == 0 for r in rows)


def test_streaming_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState: a page repeated in a later micro-batch is
    dropped by the cross-batch state; first occurrences pass through."""
    from xrenner_spark.streaming import read_pages_stream, streaming_dedup

    source = str(tmp_path / "dedup_stream")
    out = str(tmp_path / "dedup_out")
    _drop_pages(spark, source, 0, 10)
    _drop_pages(spark, source, 5, 15)   # docs 5-9 are exact repeats

    stream = read_pages_stream(spark, source, max_files_per_trigger=1)
    # ttl_ms=None: exact-forever mode (corpus warc_ts spans a year of
    # event time, so any finite TTL would legitimately re-admit)
    q = (streaming_dedup(stream, ttl_ms=None).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    rows = spark.read.parquet(out).collect()
    # 15 distinct documents survive out of 20 arrivals
    assert len(rows) == 15
    assert len({r.content_hash for r in rows}) == 15
    # deterministic corpus: every doc id appears exactly once
    urls = sorted(r.url for r in rows)
    assert len(set(urls)) == 15


def test_streaming_dedup_state_expiry(spark, tmp_path):
    """Event-time TTL policy: per-hash state is evicted once the
    watermark passes last_sighting + ttl, so a duplicate older than the
    TTL window is re-admitted while an in-window duplicate is dropped.
    Fully deterministic — eviction is driven by event timestamps in the
    data, never by wall-clock."""
    import datetime
    import time

    import pandas as pd

    from xrenner_spark.corpus import build_page
    from xrenner_spark.streaming import read_pages_stream, streaming_dedup

    source = str(tmp_path / "ttl_stream")
    out = str(tmp_path / "ttl_out")
    ckpt = str(tmp_path / "ttl_ckpt")
    t0 = datetime.datetime(2025, 1, 1)

    def drop_at(lo, hi, minutes):
        rows = [build_page(i) for i in range(lo, hi)]
        for r in rows:
            r["warc_ts"] = t0 + datetime.timedelta(minutes=minutes)
        pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(source)
        time.sleep(0.05)  # distinct mod-times keep file->trigger order stable

    ttl_ms = 3600 * 1000  # 1 hour of event time
    drop_at(0, 5, 0)       # originals at T0
    drop_at(0, 5, 10)      # in-window duplicates (T0+10min): dropped
    drop_at(10, 15, 120)   # frontier advance: watermark passes T0+1h
    drop_at(20, 25, 120)   # next batch fires the timeout -> state evicted
    drop_at(0, 5, 180)     # stale duplicates (T0+3h): re-admitted

    stream = read_pages_stream(spark, source, max_files_per_trigger=1)
    q = (streaming_dedup(stream, ttl_ms=ttl_ms, late_threshold="1 second")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    rows = spark.read.parquet(out).collect()
    counts = {}
    for r in rows:
        counts[r.url] = counts.get(r.url, 0) + 1
    old = {u: c for u, c in counts.items() if "doc0000000" in u}   # ids 0-4
    fresh = {u: c for u, c in counts.items() if u not in old}      # 10-14, 20-24
    assert len(old) == 5 and all(c == 2 for c in old.values()), counts
    assert len(fresh) == 10 and all(c == 1 for c in fresh.values()), counts


def test_streaming_domain_cap_across_batches(spark, tmp_path):
    """Per-domain quota holds across micro-batches: once a domain hits
    the cap in earlier batches, later arrivals are dropped."""
    from xrenner_spark.streaming import read_pages_stream, streaming_domain_cap

    source = str(tmp_path / "cap_stream")
    out = str(tmp_path / "cap_out")
    _drop_pages(spark, source, 0, 8)     # batch 1: 8 docs
    _drop_pages(spark, source, 8, 20)    # batch 2: 12 more

    stream = read_pages_stream(spark, source, max_files_per_trigger=1)
    q = (streaming_domain_cap(stream, cap=5).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "cap_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    rows = spark.read.parquet(out).collect()
    assert len(rows) > 0
    by_domain = {}
    for r in rows:
        by_domain.setdefault(r.domain, []).append(r.kept_rank)
    for domain, ranks in by_domain.items():
        # never exceeds the cap, ranks are exactly 1..n with no gaps
        assert len(ranks) <= 5
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # at least one domain actually hit the cap (20 docs over few hosts)
    assert any(len(v) == 5 for v in by_domain.values())


def test_streaming_url_frontier(spark, tmp_path):
    """Canonical-URL crawl-frontier dedup: a later drop re-delivering
    the same pages under DIFFERENT raw URL spellings (host case, :443,
    tracking params, fragment) is recognized and dropped; genuinely new
    pages in the same drop pass."""
    import pandas as pd
    from xrenner_spark.corpus import build_page
    from xrenner_spark.streaming import read_pages_stream, streaming_url_frontier

    source = str(tmp_path / "frontier_stream")
    out = str(tmp_path / "frontier_out")
    _drop_pages(spark, source, 0, 10)
    # second drop: docs 5-14 under decorated raw spellings of their urls
    rows = [build_page(i) for i in range(5, 15)]
    for r in rows:
        r["url"] = (r["url"].replace("https://web.example.org",
                                     "https://WEB.Example.ORG:443")
                    + "?utm_source=feed#frag")
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(source)

    stream = read_pages_stream(spark, source, max_files_per_trigger=1)
    q = (streaming_url_frontier(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "frontier_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = spark.read.parquet(out).collect()
    # 15 canonical pages: 0-9 from drop 1, 10-14 (decorated) from drop 2
    assert len(got) == 15
    assert len({r.canonical_url for r in got}) == 15
    # the 5 decorated survivors carry their RAW spellings (frontier
    # emits the first capture as received), canonical keys normalized
    decorated = [r for r in got if "utm_source" in r.url]
    assert len(decorated) == 5
    assert all(":443" not in r.canonical_url and "#"
               not in r.canonical_url for r in got)


def test_streaming_dedup_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state story executed for real: the same cross-batch
    dedup under the RocksDB state store provider (bounded executor
    memory — state lives off-heap/on-disk per executor, the provider a
    real deployment uses for web-scale key universes).  Output must be
    identical to the default HDFS-backed in-memory provider."""
    from xrenner_spark.streaming import read_pages_stream, streaming_dedup

    source = str(tmp_path / "rocks_stream")
    out = str(tmp_path / "rocks_out")
    _drop_pages(spark, source, 0, 10)
    _drop_pages(spark, source, 5, 15)

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key,
                   "org.apache.spark.sql.execution.streaming.state."
                   "RocksDBStateStoreProvider")
    try:
        stream = read_pages_stream(spark, source, max_files_per_trigger=1)
        q = (streaming_dedup(stream, ttl_ms=None).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 15
    assert len({r.content_hash for r in rows}) == 15
