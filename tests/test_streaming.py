"""Streaming twin of the extraction job: same results as batch, resume
via the streaming commit log, watermarked windowed metrics."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ocr_engine_spark.engine.extract_job import extract_pages, read_pages
from ocr_engine_spark.streaming.stream_job import (
    read_pages_stream, start_extraction_stream,
    start_windowed_metrics_stream,
)


@pytest.fixture()
def workdir(tmp_path, corpus_dir):
    """Stream-source layout: the corpus parquet file copied into a
    directory the file source watches."""
    src = tmp_path / "pages_in"
    src.mkdir()
    shutil.copy(os.path.join(corpus_dir, "pages.parquet"),
                src / "part-000.parquet")
    return tmp_path


def test_stream_matches_batch(spark, workdir, pages_df):
    out = str(workdir / "extractions")
    ckpt = str(workdir / "ckpt")
    stream = read_pages_stream(spark, str(workdir / "pages_in"))
    q = start_extraction_stream(stream, out, ckpt, partitions=8)
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    want = extract_pages(pages_df)
    assert got.count() == want.count()
    # byte-identical extracted text per url, streaming vs batch
    joined = (got.select("url", F.col("extracted_text").alias("s_text"))
              .join(want.select("url",
                                F.col("extracted_text").alias("b_text")),
                    "url"))
    assert joined.filter(
        ~(F.col("s_text").eqNullSafe(F.col("b_text")))).count() == 0


def test_stream_resume_no_duplicates(spark, workdir):
    """Restarting a finished availableNow stream reprocesses nothing
    (commit-log resume); adding a new file processes only that file."""
    out = str(workdir / "extractions")
    ckpt = str(workdir / "ckpt")
    src = str(workdir / "pages_in")
    q = start_extraction_stream(read_pages_stream(spark, src), out, ckpt,
                                partitions=8)
    q.awaitTermination(180)
    n1 = spark.read.parquet(out).count()
    # restart with no new input -> no new rows
    q2 = start_extraction_stream(read_pages_stream(spark, src), out, ckpt,
                                 partitions=8)
    q2.awaitTermination(180)
    assert spark.read.parquet(out).count() == n1
    # drop in one more file -> only its rows are appended
    shutil.copy(os.path.join(src, "part-000.parquet"),
                os.path.join(src, "part-001.parquet"))
    q3 = start_extraction_stream(read_pages_stream(spark, src), out, ckpt,
                                 partitions=8)
    q3.awaitTermination(180)
    total = spark.read.parquet(out).count()
    assert total == 2 * n1
    # urls are duplicated exactly once (same file twice) — the batch
    # dedupe guard (dropDuplicates) stays downstream, as in the catalog
    dups = (spark.read.parquet(out).groupBy("url").count()
            .filter(F.col("count") != 2).count())
    assert dups == 0


def test_windowed_metrics_finalize(spark, workdir):
    out = str(workdir / "metrics")
    ckpt = str(workdir / "mckpt")
    stream = read_pages_stream(spark, str(workdir / "pages_in"))
    q = start_windowed_metrics_stream(stream, out, ckpt, window="1 day",
                                      watermark="0 seconds")
    q.awaitTermination(180)
    m = spark.read.parquet(out)
    # append mode emits only watermark-finalized windows; with a zero
    # watermark every window but the max-event-time one finalizes
    assert m.count() > 0
    assert {r.payload_kind for r in m.select("payload_kind").distinct()
            .collect()} <= {"html", "pdf"}
    assert m.filter(F.col("n_docs") <= 0).count() == 0
    assert m.filter(F.col("n_success") > F.col("n_docs")).count() == 0


def test_host_sessions_stateful_operator(spark, tmp_path):
    """applyInPandasWithState sessionization: host A's burst closes
    (emits one session row with the right bounds/counts) once later
    batches push the watermark past its gap timeout; still-live hosts
    emit nothing."""
    import datetime
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ocr_engine_spark.streaming.stream_job import host_sessions_stream

    src = tmp_path / "pages_in"
    src.mkdir()
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)

    def page(host, path, ts, body):
        return {"url": f"https://{host}/{path}", "warc_ts": ts,
                "html": body, "text": "", "lang": "en"}

    def write_file(name, rows):
        tbl = pa.table({
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows],
                                pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        })
        pq.write_table(tbl, str(src / name))
        time.sleep(0.05)  # distinct mtimes -> deterministic file order

    # burst from host A: 3 pages in 10 minutes (one session)
    write_file("f1.parquet", [
        page("a.example.com", "1", t0, b"<p>one</p>"),
        page("a.example.com", "2", t0 + datetime.timedelta(minutes=5),
             b"<p>two longer</p>"),
        page("a.example.com", "3", t0 + datetime.timedelta(minutes=10),
             b"<p>three</p>")])
    # host B two days later: advances the watermark past A's timeout
    write_file("f2.parquet", [
        page("b.example.com", "1", t0 + datetime.timedelta(days=2),
             b"<p>b</p>")])
    # third batch: A's event-time timeout fires under the f2 watermark
    write_file("f3.parquet", [
        page("b.example.com", "2", t0 + datetime.timedelta(days=2,
                                                           minutes=1),
             b"<p>b2</p>")])

    stream = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string").option("maxFilesPerTrigger", "1")
        .parquet(str(src)))
    sessions = host_sessions_stream(stream, gap_min=30,
                                    watermark="1 minute")
    q = (sessions.writeStream.format("memory").queryName("sess")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM sess").collect()
    by_host = {r.host: r for r in rows}
    assert "a.example.com" in by_host            # closed by timeout
    a = by_host["a.example.com"]
    assert a.n_pages == 3
    assert a.session_start == t0
    assert a.session_end == t0 + datetime.timedelta(minutes=10)
    assert a.total_bytes == len(b"<p>one</p>") + len(
        b"<p>two longer</p>") + len(b"<p>three</p>")
    assert "b.example.com" not in by_host        # still live, no emit


def test_host_sessions_state_survives_restart(spark, tmp_path):
    """The sessionization state must recover from the checkpoint: run
    the stream over two batches, STOP it, drop in a third file, restart
    from the same checkpoint — host A's session (built entirely in the
    first run) closes in the second run with the right bounds."""
    import datetime
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ocr_engine_spark.streaming.stream_job import host_sessions_stream

    src = tmp_path / "pages_in"
    src.mkdir()
    out = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "sessions_ckpt")
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)

    def write_file(name, rows):
        tbl = pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "html": pa.array([r[2] for r in rows], pa.binary()),
            "text": pa.array([""] * len(rows), pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        })
        pq.write_table(tbl, str(src / name))
        time.sleep(0.05)

    def run_once():
        stream = (spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string").option("maxFilesPerTrigger", "1")
            .parquet(str(src)))
        q = (host_sessions_stream(stream, gap_min=30, watermark="1 minute")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    write_file("f1.parquet", [
        ("https://a.example.com/1", t0, b"<p>one</p>"),
        ("https://a.example.com/2", t0 + datetime.timedelta(minutes=9),
         b"<p>two</p>")])
    write_file("f2.parquet", [
        ("https://b.example.com/1", t0 + datetime.timedelta(days=2),
         b"<p>b</p>")])
    run_once()  # A's state built + timeout armed, nothing emitted yet
    write_file("f3.parquet", [
        ("https://b.example.com/2",
         t0 + datetime.timedelta(days=2, minutes=1), b"<p>b2</p>")])
    run_once()  # restart from checkpoint: A's timeout fires
    rows = spark.read.parquet(out).collect()
    by_host = {r.host: r for r in rows}
    assert "a.example.com" in by_host
    a = by_host["a.example.com"]
    assert a.n_pages == 2
    assert a.session_start == t0
    assert a.session_end == t0 + datetime.timedelta(minutes=9)


def test_host_sessions_split_on_in_batch_gap(spark, tmp_path):
    """A gap larger than gap_min WITHIN one micro-batch must split into
    two sessions — the earlier one emits as soon as a later event
    proves the gap, the later one closes by watermark timeout."""
    import datetime
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ocr_engine_spark.streaming.stream_job import host_sessions_stream

    src = tmp_path / "pages_in"
    src.mkdir()
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)

    def write_file(name, rows):
        tbl = pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "html": pa.array([r[2] for r in rows], pa.binary()),
            "text": pa.array([""] * len(rows), pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        })
        pq.write_table(tbl, str(src / name))
        time.sleep(0.05)

    write_file("f1.parquet", [
        ("https://a.example.com/1", t0, b"<p>s1a</p>"),
        ("https://a.example.com/2", t0 + datetime.timedelta(minutes=5),
         b"<p>s1b</p>"),
        # 6-hour gap >> 30-min gap_min: second session, same batch
        ("https://a.example.com/3", t0 + datetime.timedelta(hours=6),
         b"<p>s2a</p>")])
    write_file("f2.parquet", [
        ("https://b.example.com/1", t0 + datetime.timedelta(days=2),
         b"<p>b</p>")])
    write_file("f3.parquet", [
        ("https://b.example.com/2",
         t0 + datetime.timedelta(days=2, minutes=1), b"<p>b2</p>")])

    stream = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string").option("maxFilesPerTrigger", "1")
        .parquet(str(src)))
    q = (host_sessions_stream(stream, gap_min=30, watermark="1 minute")
         .writeStream.format("memory").queryName("sess_split")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    a_rows = sorted(
        [r for r in spark.sql("SELECT * FROM sess_split").collect()
         if r.host == "a.example.com"],
        key=lambda r: r.session_start)
    assert len(a_rows) == 2
    s1, s2 = a_rows
    assert s1.n_pages == 2 and s1.session_start == t0
    assert s1.session_end == t0 + datetime.timedelta(minutes=5)
    assert s2.n_pages == 1
    assert s2.session_start == t0 + datetime.timedelta(hours=6)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Re-crawled urls within the watermark horizon are dropped with
    state bounded by the horizon (dropDuplicatesWithinWatermark); the
    first capture of each url survives."""
    import datetime
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ocr_engine_spark.streaming.stream_job import dedup_pages_stream

    src = tmp_path / "pages_in"
    src.mkdir()
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)

    def write_file(name, rows):
        tbl = pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "html": pa.array([r[2] for r in rows], pa.binary()),
            "text": pa.array([""] * len(rows), pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        })
        pq.write_table(tbl, str(src / name))
        time.sleep(0.05)

    write_file("f1.parquet", [
        ("https://a.example.com/1", t0, b"<p>v1</p>"),
        ("https://a.example.com/2", t0, b"<p>x</p>")])
    write_file("f2.parquet", [
        # re-crawl of /1 an hour later: inside the horizon -> dropped
        ("https://a.example.com/1",
         t0 + datetime.timedelta(hours=1), b"<p>v2</p>"),
        ("https://a.example.com/3",
         t0 + datetime.timedelta(hours=1), b"<p>y</p>")])

    stream = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string").option("maxFilesPerTrigger", "1")
        .parquet(str(src)))
    q = (dedup_pages_stream(stream, watermark="1 day")
         .writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT url, html FROM dedup_stream ORDER BY url").collect()
    assert [r.url for r in rows] == [
        "https://a.example.com/1", "https://a.example.com/2",
        "https://a.example.com/3"]
    assert bytes(rows[0].html) == b"<p>v1</p>"  # first capture kept


def test_stream_near_dedup_against_index(spark, tmp_path):
    """A re-crawled NEAR-duplicate (different url, perturbed content)
    is flagged against the historical MinHashIndex across micro-batches,
    survivors commit exactly-once, and checkpoint recovery neither
    re-processes nor re-drops (VERDICT r02 #7)."""
    import datetime
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ocr_engine_spark.engine.catalog import ManifestCatalog
    from ocr_engine_spark.functions.dedup import MinHashIndex
    from ocr_engine_spark.streaming.stream_job import (
        start_near_dedup_stream,
    )

    corpus_text = ("the quick brown fox jumps over the lazy dog every "
                   "single morning before breakfast is even served")
    other_text = ("completely unrelated treatise on adaptive query "
                  "execution shuffle partition coalescing and skew joins")
    hist = spark.createDataFrame(
        [("https://hist.example.com/a", corpus_text),
         ("https://hist.example.com/b", other_text)],
        "url string, text string")
    idx_path = str(tmp_path / "mh_index")
    MinHashIndex.build(hist, idx_path, id_col="url", text_col="text")

    src = tmp_path / "pages_in"
    src.mkdir()
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)

    def write_file(name, rows):
        tbl = pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([t0] * len(rows), pa.timestamp("us")),
            "html": pa.array([b""] * len(rows), pa.binary()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        })
        pq.write_table(tbl, str(src / name))
        time.sleep(0.05)

    fresh = ("brand new page about iceberg snapshot expiry and orphan "
             "file cleanup procedures at scale")
    write_file("f1.parquet", [
        # near-dup of corpus doc a under a DIFFERENT url -> dropped
        ("https://mirror.example.net/copy", corpus_text + " zz"),
        ("https://new.example.org/fresh", fresh)])
    write_file("f2.parquet", [
        # second micro-batch: near-dup of corpus doc b -> dropped
        ("https://mirror2.example.net/c", other_text + " yy"),
        ("https://new.example.org/fresh2", fresh + " more words")])

    out_root = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string").option("maxFilesPerTrigger", "1")
            .parquet(str(src)))
        q = start_near_dedup_stream(stream, idx_path, out_root, ckpt,
                                    threshold=0.5)
        q.awaitTermination(180)

    run()
    cat = ManifestCatalog(out_root)
    got = sorted(r.url for r in cat.read_table(spark, "pages_deduped")
                 .select("url").collect())
    assert got == ["https://new.example.org/fresh",
                   "https://new.example.org/fresh2"]
    n_batches = len(cat.committed_batches("pages_deduped"))
    assert n_batches >= 2  # per-file micro-batches

    # recovery: restart from the same checkpoint with one more file —
    # old batches are not reprocessed, the new one commits exactly once
    write_file("f3.parquet", [
        ("https://mirror3.example.net/d", corpus_text + " qq zz"),
        ("https://new.example.org/fresh3", "totally novel content about "
         "arrow flight rpc streams and dictionary encoding tricks")])
    run()
    got2 = sorted(r.url for r in cat.read_table(spark, "pages_deduped")
                  .select("url").collect())
    assert got2 == ["https://new.example.org/fresh",
                    "https://new.example.org/fresh2",
                    "https://new.example.org/fresh3"]
    assert len(cat.committed_batches("pages_deduped")) == n_batches + 1


def test_host_sessions_late_earlier_run_not_absorbed(spark, tmp_path):
    """Round-2 advice: with watermark > gap_min, a late-but-admitted
    run that ENDS more than gap_min before the stored session's start
    must close as its own earlier session — not be absorbed into the
    stored one across a proven gap."""
    import datetime
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ocr_engine_spark.streaming.stream_job import host_sessions_stream

    src = tmp_path / "pages_in"
    src.mkdir()
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)

    def write_file(name, rows):
        tbl = pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "html": pa.array([b""] * len(rows), pa.binary()),
            "text": pa.array([""] * len(rows), pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        })
        pq.write_table(tbl, str(src / name))
        time.sleep(0.05)

    # batch 1 seeds the stored session at t0+3h
    write_file("f1.parquet", [
        ("https://a.example.com/1", t0 + datetime.timedelta(hours=3))])
    # batch 2 delivers a LATE run at t0+1.5h: admitted by the 2h
    # watermark, but 1.5h before the stored session -> own session
    write_file("f2.parquet", [
        ("https://a.example.com/2",
         t0 + datetime.timedelta(hours=1, minutes=30)),
        ("https://a.example.com/3",
         t0 + datetime.timedelta(hours=1, minutes=35))])
    # advance other-host event time so the open session times out
    write_file("f3.parquet", [
        ("https://b.example.com/1", t0 + datetime.timedelta(days=3))])
    write_file("f4.parquet", [
        ("https://b.example.com/2", t0 + datetime.timedelta(days=3,
                                                            minutes=1))])

    stream = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string").option("maxFilesPerTrigger", "1")
        .parquet(str(src)))
    q = (host_sessions_stream(stream, gap_min=30, watermark="2 hours")
         .writeStream.format("memory").queryName("sess_late")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    a_rows = sorted(
        [r for r in spark.sql("SELECT * FROM sess_late").collect()
         if r.host == "a.example.com"],
        key=lambda r: r.session_start)
    assert len(a_rows) == 2, a_rows
    late, stored = a_rows
    assert late.n_pages == 2
    assert late.session_start == t0 + datetime.timedelta(hours=1,
                                                         minutes=30)
    assert late.session_end == t0 + datetime.timedelta(hours=1,
                                                       minutes=35)
    assert stored.n_pages == 1
    assert stored.session_start == t0 + datetime.timedelta(hours=3)


def test_stream_stream_enrich_join(spark, tmp_path):
    """Bounded-state stream-stream join: metadata inside the event-time
    window joins; metadata outside it never does (that range predicate
    is also what lets the engine evict join state)."""
    import datetime
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ocr_engine_spark.streaming.stream_job import enrich_pages_stream

    pages_src = tmp_path / "pages_in"
    meta_src = tmp_path / "meta_in"
    pages_src.mkdir()
    meta_src.mkdir()
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)

    def write_pages(name, rows):
        tbl = pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "html": pa.array([b""] * len(rows), pa.binary()),
            "text": pa.array([""] * len(rows), pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        })
        pq.write_table(tbl, str(pages_src / name))
        time.sleep(0.05)

    def write_meta(name, rows):
        tbl = pa.table({
            "meta_url": pa.array([r[0] for r in rows], pa.string()),
            "meta_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "fetch_status": pa.array([r[2] for r in rows], pa.int64()),
        })
        pq.write_table(tbl, str(meta_src / name))
        time.sleep(0.05)

    write_pages("p1.parquet", [
        ("https://a.com/1", t0),
        ("https://a.com/2", t0 + datetime.timedelta(minutes=10))])
    write_meta("m1.parquet", [
        # inside the 2h window -> joins
        ("https://a.com/1", t0 + datetime.timedelta(minutes=30), 200),
        # outside the window for /2 -> must NOT join
        ("https://a.com/2", t0 + datetime.timedelta(hours=5), 404),
        # no matching page url -> no join
        ("https://b.com/x", t0, 200)])

    pages = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string").parquet(str(pages_src)))
    meta = (spark.readStream.schema(
        "meta_url string, meta_ts timestamp, fetch_status long")
        .parquet(str(meta_src)))
    q = (enrich_pages_stream(pages, meta, watermark="1 hour",
                             join_window="2 hours")
         .select("url", "warc_ts", "meta_ts", "fetch_status")
         .writeStream.format("memory").queryName("enriched")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM enriched ORDER BY url").collect()
    assert [(r.url, r.fetch_status) for r in rows] == \
        [("https://a.com/1", 200)]


def test_stream_edge_table_matches_batch(spark, tmp_path):
    """Continuous link-graph construction: per-micro-batch edge deltas
    merge (by sum) to exactly the batch host_edges of the whole
    corpus, independent of micro-batch boundaries; restarting the
    drained stream commits nothing new (marker-protocol idempotence)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_engine_spark.functions.linkgraph import host_edges
    from ocr_engine_spark.streaming.stream_job import (
        read_edge_table, read_pages_stream, start_edge_stream,
    )

    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)
    src = tmp_path / "pages_in"
    src.mkdir()

    def page(url, *hrefs):
        body = "".join(f'<a href="{h}">x</a>' for h in hrefs)
        return (url, f"<html>{body}</html>".encode())

    def write_file(name, rows):
        pq.write_table(pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([t0] * len(rows), pa.timestamp("us")),
            "html": pa.array([r[1] for r in rows], pa.binary()),
            "text": pa.array([""] * len(rows), pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        }), str(src / name))

    write_file("f1.parquet", [
        page("https://a.ex/1", "https://b.ex/x", "/local", "https://b.ex/y"),
        page("https://b.ex/1", "https://a.ex/z")])
    write_file("f2.parquet", [
        page("https://a.ex/2", "https://b.ex/x"),      # same edge again
        page("https://c.ex/1", "//a.ex/p", "#skip")])

    out = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")
    stream = read_pages_stream(spark, str(src),
                               max_files_per_trigger=1)
    q = start_edge_stream(stream, out, ckpt)
    q.awaitTermination(180)

    got = {(r.src_host, r.dst_host): r.n_links
           for r in read_edge_table(spark, out).collect()}
    batch_pages = read_pages(spark, str(src))
    want = {(r.src_host, r.dst_host): r.n_links
            for r in host_edges(batch_pages).collect()}
    assert got == want
    assert got[("a.ex", "b.ex")] == 3  # merged across micro-batches

    # drained restart: marker protocol makes replay a no-op
    q2 = start_edge_stream(read_pages_stream(spark, str(src),
                                             max_files_per_trigger=1),
                           out, ckpt)
    q2.awaitTermination(180)
    got2 = {(r.src_host, r.dst_host): r.n_links
            for r in read_edge_table(spark, out).collect()}
    assert got2 == got


def test_stream_classify_against_model(spark, tmp_path):
    """Micro-batches are scored against the persisted NB model with
    exactly-once commits; checkpoint recovery neither re-scores nor
    duplicates; a model re-fit between batches is picked up without a
    stream restart (the per-batch load)."""
    import datetime
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from ocr_engine_spark.engine.catalog import ManifestCatalog
    from ocr_engine_spark.functions.classify import nb_fit, save_nb_model
    from ocr_engine_spark.streaming.stream_job import (
        start_classify_stream,
    )

    spam_text = "win free prize click offer winner cash bonus claim"
    ham_text = "spark plans shuffle data across the cluster nodes"
    labeled = spark.createDataFrame(
        [(i, (spam_text if i % 2 else ham_text) + f" v{i}",
          "spam" if i % 2 else "ham") for i in range(40)],
        "doc_id long, text string, label string")
    model_path = str(tmp_path / "nb_model")
    labels, cond = nb_fit(labeled, buckets=512)
    save_nb_model(labels, cond, model_path)

    src = tmp_path / "pages_in"
    src.mkdir()
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)

    def write_file(name, rows):
        tbl = pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([t0] * len(rows), pa.timestamp("us")),
            "html": pa.array([b""] * len(rows), pa.binary()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        })
        pq.write_table(tbl, str(src / name))
        time.sleep(0.05)

    write_file("f1.parquet", [
        ("https://a.example.com/1", spam_text + " urgent lottery"),
        ("https://a.example.com/2", ham_text + " with agg stages")])
    write_file("f2.parquet", [
        ("https://b.example.com/3", "free cash prize deal claim now")])

    out_root = str(tmp_path / "cls_out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string").option("maxFilesPerTrigger", "1")
            .parquet(str(src)))
        q = start_classify_stream(stream, model_path, out_root, ckpt,
                                  buckets=512)
        q.awaitTermination(180)

    run()
    cat = ManifestCatalog(out_root)
    got = {r["url"]: r["pred_label"]
           for r in cat.read_table(spark, "pages_classified").collect()}
    assert got == {"https://a.example.com/1": "spam",
                   "https://a.example.com/2": "ham",
                   "https://b.example.com/3": "spam"}
    n_batches = len(cat.committed_batches("pages_classified"))
    assert n_batches >= 2

    # recovery with one more file: old batches not re-scored, new one
    # commits exactly once
    write_file("f3.parquet", [
        ("https://c.example.com/4", ham_text + " and broadcast joins")])
    run()
    rows = cat.read_table(spark, "pages_classified").collect()
    assert len(rows) == 4
    assert len(cat.committed_batches("pages_classified")) == \
        n_batches + 1
    got2 = {r["url"]: r["pred_label"] for r in rows}
    assert got2["https://c.example.com/4"] == "ham"


def test_stream_decontam_against_hash_table(spark, tmp_path):
    """Micro-batches are gated against the persisted benchmark gram
    hashes: leaked docs land in the quarantine table with hit counts,
    clean docs in the survivors table; checkpoint recovery re-commits
    neither."""
    import datetime
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ocr_engine_spark.engine.catalog import ManifestCatalog
    from ocr_engine_spark.functions.decontam import benchmark_ngram_hashes
    from ocr_engine_spark.streaming.stream_job import start_decontam_stream

    bench_text = ("the capital of france is paris and the capital of "
                  "spain is madrid according to the atlas")
    bench = spark.createDataFrame([(0, bench_text)],
                                  "doc_id long, text string")
    hash_path = str(tmp_path / "bench_hashes")
    benchmark_ngram_hashes(bench, n=5).write.parquet(hash_path)

    src = tmp_path / "pages_in"
    src.mkdir()
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)

    def write_file(name, rows):
        tbl = pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([t0] * len(rows), pa.timestamp("us")),
            "html": pa.array([b""] * len(rows), pa.binary()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        })
        pq.write_table(tbl, str(src / name))
        time.sleep(0.05)

    write_file("f1.parquet", [
        ("https://a.example.com/leak",
         "quiz answers say the capital of france is paris and more"),
        ("https://a.example.com/clean",
         "spark shuffles data between executor nodes during joins")])
    write_file("f2.parquet", [
        ("https://b.example.com/clean2",
         "completely unrelated prose about gardening and compost")])

    out_root = str(tmp_path / "dc_out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string").option("maxFilesPerTrigger", "1")
            .parquet(str(src)))
        q = start_decontam_stream(stream, hash_path, out_root, ckpt,
                                  n=5)
        q.awaitTermination(180)

    run()
    cat = ManifestCatalog(out_root)
    clean = {r["url"] for r in
             cat.read_table(spark, "pages_clean").collect()}
    flagged = {r["url"]: r["n_hits"] for r in
               cat.read_table(spark, "pages_contaminated").collect()}
    assert clean == {"https://a.example.com/clean",
                     "https://b.example.com/clean2"}
    assert set(flagged) == {"https://a.example.com/leak"}
    assert flagged["https://a.example.com/leak"] >= 1

    # recovery: nothing re-commits, a new file gates exactly once
    write_file("f3.parquet", [
        ("https://c.example.com/leak2",
         "the capital of spain is madrid according to the atlas notes")])
    run()
    rows = cat.read_table(spark, "pages_clean").collect()
    assert len(rows) == len({r["url"] for r in rows}) == 2
    flagged2 = {r["url"] for r in
                cat.read_table(spark, "pages_contaminated").collect()}
    assert flagged2 == {"https://a.example.com/leak",
                        "https://c.example.com/leak2"}


def _text_pages_stream(spark, src, rows):
    """One parquet file of (url, text) pages under ``src`` and a
    one-file-per-trigger stream over it: a fresh checkpoint makes it
    batch 0."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    src.mkdir()
    t0 = datetime.datetime(2025, 5, 1, 12, 0, 0)
    pq.write_table(pa.table({
        "url": pa.array([r[0] for r in rows], pa.string()),
        "warc_ts": pa.array([t0] * len(rows), pa.timestamp("us")),
        "html": pa.array([b""] * len(rows), pa.binary()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
    }), str(src / "f1.parquet"))
    return read_pages_stream(spark, str(src), max_files_per_trigger=1)


_LEAK = ("https://a.example.com/leak",
         "quiz answers say the capital of france is paris and more")
_CLEAN = ("https://a.example.com/clean",
          "spark shuffles data between executor nodes during joins")


def test_commit_shell_skips_batch_committed_in_every_table(spark,
                                                           tmp_path):
    """A replayed batch id that every output table already committed
    writes nothing and never runs the batch body (the body would fail:
    its benchmark hash table does not exist)."""
    from ocr_engine_spark.engine.catalog import ManifestCatalog
    from ocr_engine_spark.streaming.stream_job import start_decontam_stream

    out_root = str(tmp_path / "dc_out")
    cat = ManifestCatalog(out_root)
    marker = spark.createDataFrame([("https://sentinel/", 99)],
                                   "url string, n_hits long")
    for table in ("pages_clean", "pages_contaminated"):
        cat.write_batch(marker, table, 0)
    stream = _text_pages_stream(spark, tmp_path / "pages_in",
                                [_LEAK, _CLEAN])
    q = start_decontam_stream(stream, str(tmp_path / "missing_hashes"),
                              out_root, str(tmp_path / "ckpt"), n=5)
    q.awaitTermination(180)
    assert q.exception() is None
    for table in ("pages_clean", "pages_contaminated"):
        assert cat.committed_batches(table) == {0}
        assert [tuple(r) for r in cat.read_table(spark, table).collect()] \
            == [("https://sentinel/", 99)]


def test_commit_shell_replays_only_the_uncommitted_table(spark, tmp_path):
    """A decontam batch committed in the quarantine table but not in
    the survivors table (a crash between the two writes) replays only
    the survivors write, with the right rows."""
    from ocr_engine_spark.engine.catalog import ManifestCatalog
    from ocr_engine_spark.functions.decontam import benchmark_ngram_hashes
    from ocr_engine_spark.streaming.stream_job import start_decontam_stream

    bench = spark.createDataFrame(
        [(0, "the capital of france is paris and the capital of spain")],
        "doc_id long, text string")
    hash_path = str(tmp_path / "bench_hashes")
    benchmark_ngram_hashes(bench, n=5).write.parquet(hash_path)
    out_root = str(tmp_path / "dc_out")
    cat = ManifestCatalog(out_root)
    cat.write_batch(spark.createDataFrame([("https://sentinel/", 99)],
                                          "url string, n_hits long"),
                    "pages_contaminated", 0)
    stream = _text_pages_stream(spark, tmp_path / "pages_in",
                                [_LEAK, _CLEAN, _CLEAN])
    q = start_decontam_stream(stream, hash_path, out_root,
                              str(tmp_path / "ckpt"), n=5)
    q.awaitTermination(180)
    assert q.exception() is None
    flagged = cat.read_table(spark, "pages_contaminated").collect()
    assert [tuple(r) for r in flagged] == [("https://sentinel/", 99)]
    assert cat.committed_batches("pages_clean") == {0}
    clean = cat.read_table(spark, "pages_clean").collect()
    assert [(r["url"], r["text"]) for r in clean] == [_CLEAN]
