"""Structured-Streaming ingestion tests: the streamed index equals a
batch build over the same pages; re-crawls upsert; the per-micro-batch
refresh is O(delta) and replay-safe; watermarked stats, stateful
sessionization and streaming dedup match their batch twins."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from searchengine_spark.corpus import PAGES_SCHEMA, make_page
from searchengine_spark.pipeline import refresh as R
from searchengine_spark.sources.snapshots import SnapshotTable


def _pages(ids, seed=42, mutate=None):
    rows = []
    for i in ids:
        p = make_page(i, seed)
        if mutate:
            p = mutate(p)
        rows.append(p)
    return rows


def _write_pages(spark, path, ids, seed=42, mutate=None):
    spark.createDataFrame(_pages(ids, seed, mutate), PAGES_SCHEMA).coalesce(
        1).write.mode("append").parquet(path)


def _recrawl(page_no):
    """A mutate hook re-crawling one page a day later with new text."""
    def mutate(p):
        if p["url"].endswith(f"page{page_no:04d}"):
            p = dict(p, text="fresh recrawl content only",
                     html=b"<html><body>fresh recrawl content only"
                          b"</body></html>",
                     warc_ts=p["warc_ts"] + datetime.timedelta(days=1))
        return p
    return mutate


def _drain(spark, inp, pages_root, index_root):
    from searchengine_spark.streaming.ingest import start_segment_maintenance

    start_segment_maintenance(spark, inp, pages_root,
                              index_root).awaitTermination(120)


def _decoded(spark, index_root):
    """Every live decoded posting (biword rows included) as
    (term, doc_id, tftd, positions, doc_length) tuples."""
    return {
        (r["term"], r["doc_id"], r["tftd"], tuple(r["positions"]),
         r["doc_length"])
        for r in R.published_postings(spark, index_root, None).collect()
    }


def test_incremental_matches_batch(spark, tmp_path):
    from searchengine_spark.indexing.build import build_index

    inp = str(tmp_path / "in")
    pr, ir = str(tmp_path / "pages"), str(tmp_path / "idx")
    _write_pages(spark, inp, range(0, 20))
    _drain(spark, inp, pr, ir)
    # second drop of files → second micro-batch (10 new docs over 20:
    # past the delete-ratio threshold, so this one also compacts)
    _write_pages(spark, inp, range(20, 30))
    _drain(spark, inp, pr, ir)

    batch_docs = spark.read.parquet(inp).select(
        F.xxhash64("url").bitwiseAND(F.lit((1 << 63) - 1)).alias("doc_id"),
        "text",
        F.octet_length("html").alias("byte_size"),
    )
    bidx = build_index(batch_docs, byte_size_col="byte_size")

    got = _decoded(spark, ir)
    s = {(t, d, tf, pos) for (t, d, tf, pos, _) in got if " " not in t}
    b = {(r["term"], r["doc_id"], r["tftd"], tuple(r["positions"]))
         for r in bidx.postings.collect()}
    assert s == b and len(s) > 0
    assert {(t, d) for (t, d, *_rest) in got if " " in t} \
        == {(r["term"], r["doc_id"]) for r in bidx.biword.collect()}
    assert R._docstats_table(ir).read(spark).count() == 30


def test_recrawl_last_write_wins(spark, tmp_path):
    inp = str(tmp_path / "in")
    pr, ir = str(tmp_path / "pages"), str(tmp_path / "idx")
    _write_pages(spark, inp, [1, 2, 3])
    _drain(spark, inp, pr, ir)

    # re-crawl page 2 with new content (same url → same doc_id)
    def mutate(p):
        if p["url"].endswith("page0002"):
            p = dict(p, text="fresh recrawl content only", html=b"<html><head><title>t</title></head><body>fresh recrawl content only</body></html>")
        return p

    _write_pages(spark, inp, [2], mutate=mutate)
    _drain(spark, inp, pr, ir)

    assert R._docstats_table(ir).read(spark).count() == 3  # 3 unique urls
    doc2 = R.published_postings(spark, ir, ["recrawl"]).collect()
    assert len(doc2) == 1  # new content indexed, old replaced


def test_ingestion_stats_watermark(spark, tmp_path):
    from searchengine_spark.streaming.ingest import ingestion_stats, stream_pages

    inp = str(tmp_path / "in")
    out = str(tmp_path / "stats")
    _write_pages(spark, inp, range(0, 12))
    stats = ingestion_stats(stream_pages(spark, inp))
    q = (
        stats.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-finalized windows; with a single
    # availableNow drain the last window may be withheld — drive a
    # second batch to advance the watermark
    _write_pages(spark, inp, range(12, 24))
    q2 = (
        ingestion_stats(stream_pages(spark, inp))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() > 0
    row = got.orderBy("window_start").collect()[0]
    assert row["n_docs"] > 0 and row["bytes"] > 0
    # pages arrive 37s apart → 1-minute windows hold 1-2 docs per lang
    assert (row["window_end"] - row["window_start"]).total_seconds() == 60


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions emitted by
    the stream (state carried ACROSS micro-batches) must equal the
    batch-computed closed sessions for the same events."""
    import datetime as dt

    from searchengine_spark.streaming.ingest import sessionize_stream

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    # user 1: 3 sessions (gaps of 45 and 90 min); user 2: 2 sessions.
    events = [
        (1, base + dt.timedelta(minutes=m))
        for m in (0, 5, 10, 55, 60, 150)
    ] + [
        (2, base + dt.timedelta(minutes=m))
        for m in (0, 20, 29, 100)
    ]
    rows = [(i, u, t, "click", 1.0) for i, (u, t) in enumerate(events)]
    src = str(tmp_path / "events_stream")
    # two files + maxFilesPerTrigger=1 => the open-session state MUST
    # survive a micro-batch boundary for the result to come out right
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double"
    )
    df.filter(F.col("ts") < base + dt.timedelta(minutes=58)).coalesce(1) \
        .write.parquet(f"{src}/a")
    df.filter(F.col("ts") >= base + dt.timedelta(minutes=58)).coalesce(1) \
        .write.parquet(f"{src}/b")
    import shutil

    merged = str(tmp_path / "merged")
    os.makedirs(merged)
    n = 0
    for age, sub in ((200, "a"), (100, "b")):
        for f in sorted(os.listdir(f"{src}/{sub}")):
            if f.endswith(".parquet"):
                dst = f"{merged}/{sub}_{f}"
                shutil.copy(f"{src}/{sub}/{f}", dst)
                # the file source orders micro-batches by modification
                # time — pin it so batch 'a' (earlier events) is first
                import time as _time

                now = _time.time()
                os.utime(dst, (now - age, now - age))
                n += 1
    assert n == 2

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(merged)
    )
    out_dir = str(tmp_path / "sessions_out")
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # closed sessions only (the open tail per user stays in state):
    expect = {
        (1, base, base + dt.timedelta(minutes=10), 3),
        (1, base + dt.timedelta(minutes=55), base + dt.timedelta(minutes=60), 2),
        (2, base, base + dt.timedelta(minutes=29), 3),
    }
    assert got == expect


def test_dedup_stream_matches_batch_exact_dedup(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark over the
    body md5) must keep exactly the first arrival of each distinct
    text — i.e. the survivors of ops.dedup.exact_duplicates on the
    same corpus at rest with arrival-ordered doc_ids — including a
    duplicate arriving in a LATER micro-batch within the watermark."""
    import shutil
    import time as _time

    from searchengine_spark.ops.dedup import exact_duplicates
    from searchengine_spark.streaming.ingest import dedup_stream

    # batch A: originals 0..9, where page 8 is an IN-batch duplicate of
    # page 2's text; batch B (later arrivals, within the 10-minute
    # watermark — warc_ts spacing is 37 s): cross-batch duplicates of
    # pages 0/3/7 under fresh urls, plus fresh pages 13/14.
    def page(i, text_of=None):
        p = make_page(i)
        if text_of is not None:
            p = dict(p, text=make_page(text_of)["text"])
        return p

    rows_a = [page(i) for i in range(8)] + [page(8, text_of=2), page(9)]
    rows_b = [page(10, text_of=0), page(11, text_of=3), page(12, text_of=7),
              page(13), page(14)]

    src = str(tmp_path / "src")
    for sub, rows in (("a", rows_a), ("b", rows_b)):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.parquet(
            f"{src}/{sub}"
        )
    merged = str(tmp_path / "merged")
    os.makedirs(merged)
    for age, sub in ((200, "a"), (100, "b")):
        for f in sorted(os.listdir(f"{src}/{sub}")):
            if f.endswith(".parquet"):
                dst = f"{merged}/{sub}_{f}"
                shutil.copy(f"{src}/{sub}/{f}", dst)
                now = _time.time()
                os.utime(dst, (now - age, now - age))  # a arrives first

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(merged)
    )
    out = str(tmp_path / "deduped")
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_urls = {r["url"] for r in spark.read.parquet(out).collect()}

    # batch twin: arrival order == page index (warc_ts = epoch + i*37s),
    # so exact_duplicates' min-doc_id keep policy == first arrival
    at_rest = spark.read.parquet(merged).select(
        ((F.col("warc_ts").cast("long")
          - F.lit(make_page(0)["warc_ts"]).cast("long")) / 37)
        .cast("long").alias("doc_id"),
        "url", "text",
    )
    groups = exact_duplicates(at_rest)
    losers = (
        at_rest.select(
            "doc_id", "url",
            F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .join(groups, "text_md5")
        .filter(F.col("doc_id") != F.col("keep_doc_id"))
    )
    batch_urls = {
        r["url"] for r in at_rest.join(
            losers.select("doc_id"), "doc_id", "left_anti"
        ).collect()
    }

    assert got_urls == batch_urls
    # the planted duplicates (8 in-batch; 10/11/12 cross-batch) died
    dead = {make_page(i)["url"] for i in (8, 10, 11, 12)}
    assert got_urls.isdisjoint(dead)
    assert make_page(13)["url"] in got_urls and make_page(0)["url"] in got_urls
    assert len(got_urls) == 11


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    """Two drops through the streaming loop: 40 pages, then page 3
    re-crawled with new text plus 3 new pages. The second micro-batch
    stays under the compaction thresholds (4 deletes over 43 live
    docs), so the index is a base plus one merge-on-read delta.
    Returns (pages_root, index_root, index versions after each drop)."""
    root = tmp_path_factory.mktemp("streamed")
    inp, pr, ir = str(root / "in"), str(root / "pages"), str(root / "idx")
    _write_pages(spark, inp, range(0, 40))
    _drain(spark, inp, pr, ir)
    v0 = SnapshotTable(ir).current_version()
    _write_pages(spark, inp, [3, 40, 41, 42], mutate=_recrawl(3))
    _drain(spark, inp, pr, ir)
    return pr, ir, (v0, SnapshotTable(ir).current_version())


def test_segment_maintenance_matches_scratch_build(spark, streamed,
                                                   tmp_path):
    """After replaying drops that include a re-crawled url, the
    streamed index decodes to exactly the postings of a from-scratch
    build over the same pages table, and serves the same BM25 rows and
    scores."""
    pr, ir, _ = streamed
    twin = str(tmp_path / "twin")
    R.build_pages_index(spark, pr, twin)

    got = _decoded(spark, ir)
    assert got == _decoded(spark, twin) and len(got) > 0
    assert "recrawl" in {t for (t, *_rest) in got}

    nonempty = 0
    for q in ("fresh recrawl content", "page about", "the crawl"):
        want = [(r.doc_id, round(r.score, 9)) for r in
                R.refreshed_topk(spark, twin, q, k=5).collect()]
        assert [(r.doc_id, round(r.score, 9)) for r in
                R.refreshed_topk(spark, ir, q, k=5).collect()] == want, q
        nonempty += bool(want)
    assert nonempty >= 2


def test_micro_batch_refresh_carries_files_by_reference(spark, streamed):
    """A micro-batch below the compaction thresholds commits an append
    to the index and docstats tables: every earlier data file is
    carried by reference, and only the batch's own files are new."""
    pr, ir, (v0, v1) = streamed
    assert v1 > v0
    for tbl in (SnapshotTable(ir), R._docstats_table(ir)):
        cur = tbl.manifest(tbl.current_version())
        parent = tbl.manifest(cur["parent"])
        assert cur["mode"] == "append" and cur["delete_files"]
        assert {f["path"] for f in parent["data_files"]} \
            <= {f["path"] for f in cur["data_files"]}
        assert cur["new_files"] == len(cur["data_files"]) \
            - len(parent["data_files"])
    pages = SnapshotTable(pr)
    assert pages.properties()["stream_batch_id"] == 1
    assert SnapshotTable(ir).properties()["pages_version"] \
        == pages.current_version()


def test_replayed_micro_batch_appends_once(spark, tmp_path):
    """Running the foreachBatch body again with the same batch id
    appends nothing and leaves the index unchanged; a batch whose pages
    commit landed but whose index commit did not (a crash in between)
    is healed by the replay's refresh."""
    from searchengine_spark.streaming.ingest import (
        STREAM_BATCH_PROP,
        maintain_batch,
    )

    pr, ir = str(tmp_path / "pages"), str(tmp_path / "idx")
    pages, index = SnapshotTable(pr), SnapshotTable(ir)
    b0 = spark.createDataFrame(_pages(range(0, 12)), PAGES_SCHEMA)
    maintain_batch(b0, 0, pr, ir)
    state = (pages.current_version(), index.current_version(),
             index.properties())
    maintain_batch(b0, 0, pr, ir)
    assert (pages.current_version(), index.current_version(),
            index.properties()) == state
    assert pages.read(spark).count() == 12

    b1 = spark.createDataFrame(_pages(range(12, 15)), PAGES_SCHEMA)
    pages.commit(b1, properties={STREAM_BATCH_PROP: 1})  # then a crash
    maintain_batch(b1, 1, pr, ir)
    assert pages.current_version() == state[0] + 1
    assert pages.read(spark).count() == 15
    assert index.properties()["pages_version"] == pages.current_version()
    assert index.properties()["n_docs"] == 15


def test_submit_stream_maintenance_job_two_drops(spark, tmp_path, capsys):
    """The spark-submit driver end to end (session injected): the
    first drop builds the index, the second refreshes it; each run
    prints one JSON line."""
    import json
    import sys as _sys
    _sys.path.insert(0, "scripts")
    from submit_stream_maintenance_job import main as job

    inp = str(tmp_path / "in")
    argv = ["--input", inp, "--pages-root", str(tmp_path / "pages"),
            "--index-root", str(tmp_path / "idx")]
    _write_pages(spark, inp, range(0, 30))
    out0 = job(argv, spark=spark)
    assert out0["pages_version"] == out0["indexed_pages_version"] == 0
    assert out0["n_docs"] == 30
    assert out0["maintenance"]["delta_commits"] == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(line)["index_version"] == out0["index_version"]

    _write_pages(spark, inp, [5, 30, 31], mutate=_recrawl(5))
    out1 = job(argv, spark=spark)
    assert out1["pages_version"] == out1["indexed_pages_version"] == 1
    assert out1["n_docs"] == 32
    assert out1["index_version"] > out0["index_version"]
    assert out1["maintenance"]["delta_commits"] == 1
