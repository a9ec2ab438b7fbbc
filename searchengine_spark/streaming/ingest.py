"""Structured-Streaming ingestion: index maintenance over an unbounded
pages stream, plus the stream-side monitoring and dedup operators.

The reference is strictly batch (SURVEY.md §2.8) — its only "refresh"
is the REPL's full ``:index <dir>`` rebuild (main.py:261-392). Here a
stream of crawl drops keeps the published index current through the
same refresh loop a scheduled batch job runs (pipeline/refresh.py):

* ``doc_id = stable 63-bit hash of url`` — dense global ranks are
  incompatible with unbounded streams (any new url would renumber the
  corpus); every index/query operator here is id-agnostic, only
  uniqueness and determinism matter. xxhash64 is Spark-native and
  stable across runs/partitions.
* ``start_segment_maintenance`` is a thin ``foreachBatch``: each
  micro-batch is appended to a pages ``SnapshotTable``, then the index
  table is built (first batch) or refreshed with one O(delta) row-delta
  commit and compacted when the merge-on-read debt crosses the
  maintenance thresholds. Bytes written per micro-batch follow the
  batch, not the index.
* ``ingestion_stats`` is the watermarked event-time aggregation
  (1-minute windows on ``warc_ts``, 2-minute late-data watermark) —
  the monitoring stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import PAGES_SCHEMA
from ..indexing.build import analyze_udf

# Pages-table property holding the last micro-batch id the stream has
# appended: a replayed batch (same id after a crash) is not appended
# twice.
STREAM_BATCH_PROP = "stream_batch_id"


def stream_pages(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of pages parquet drops."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def latest_per_url(batch: DataFrame) -> DataFrame:
    """In-batch last-write-wins: a url re-crawled WITHIN one pages batch
    keeps only its newest row (event time ``warc_ts``; deterministic
    content-hash tiebreak for equal timestamps). Across batches the
    later refresh supersedes by doc_id identity (pipeline/refresh.py's
    equality deletes) — together: latest batch, then latest crawl time
    within it."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc(F.xxhash64("text")))
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def analyze_pages(batch: DataFrame) -> DataFrame:
    """pages batch → per-doc grouped analysis (url-hash doc_id,
    reference analyzer, doc-local postings arrays). In-batch re-crawls
    resolve to the newest row first (latest_per_url)."""
    batch = latest_per_url(batch)
    return batch.select(
        F.xxhash64("url").bitwiseAND(F.lit((1 << 63) - 1)).alias("doc_id"),
        "url",
        analyze_udf(F.col("text")).alias("a"),
        F.octet_length("html").cast("double").alias("byte_size"),
    ).select(
        "doc_id", "url",
        F.col("a.postings").alias("postings"),
        F.col("a.doc_length").alias("doc_length"),
        F.col("a.biwords").alias("biwords"),
        "byte_size",
    )


def maintain_batch(batch: DataFrame, batch_id: int, pages_root: str,
                   index_root: str) -> None:
    """foreachBatch body of :func:`start_segment_maintenance`: append
    the micro-batch to the pages table, then bring the index up to the
    pages table's current version.

    Replay-safe: the appended batch id is recorded as a pages-table
    property, and a batch at or below it is not appended again. The
    refresh still runs — it resumes from the index's ``pages_version``
    watermark, so a crash between the pages commit and the index commit
    heals on the replay."""
    # pipeline/refresh imports this module at load time (analyze_pages)
    from ..pipeline import refresh
    from ..sources.snapshots import SnapshotTable

    spark = batch.sparkSession
    pages = SnapshotTable(pages_root)
    current = pages.current_version()
    if (current is None
            or pages.properties(current).get(STREAM_BATCH_PROP, -1)
            < batch_id):
        pages.commit(batch, mode="append", note=f"stream batch {batch_id}",
                     properties={STREAM_BATCH_PROP: batch_id})
    if SnapshotTable(index_root).current_version() is None:
        refresh.build_pages_index(spark, pages_root, index_root)
    else:
        refresh.refresh_pages_index(spark, pages_root, index_root)
        refresh.maybe_rewrite_pages_index(spark, index_root)


def start_segment_maintenance(spark: SparkSession, input_dir: str,
                              pages_root: str, index_root: str,
                              available_now: bool = True):
    """Keep the index table at ``index_root`` current over a pages
    stream: each micro-batch goes through :func:`maintain_batch`, so
    after it the index serves (``refresh.refreshed_*``) exactly the
    latest crawl of every url seen so far. The stream's checkpoint
    lives under ``{pages_root}/_checkpoint``, next to the batch id it
    guards. ``available_now=True`` drains what's there and stops
    (test/backfill mode), else runs continuously."""
    writer = (
        stream_pages(spark, input_dir).writeStream.foreachBatch(
            lambda b, i: maintain_batch(b, i, pages_root, index_root))
        .option("checkpointLocation", f"{pages_root}/_checkpoint")
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.start()


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long"
)
SESSION_STATE_SCHEMA = (
    "session_start timestamp, last_ts timestamp, n_events long"
)


def sessionize_stream(events_stream: DataFrame, gap_minutes: int = 30,
                      watermark: str = "10 minutes") -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user gap-based sessionization (the streaming twin of the batch
    ``events_sessionized`` gate query, which shares the 30-minute-gap
    semantics).

    State per user_id = the OPEN session (start, last event ts, count);
    each micro-batch folds its (sorted) events into the state and emits
    every session CLOSED by a gap > ``gap_minutes``. The open tail stays
    in the state store across micro-batches — exactly the cross-batch
    continuity a built-in window cannot express when session identity
    must survive arbitrarily many triggers.

    Scale shape: state is partitioned by user_id (the groupBy key), one
    tiny tuple per active user, Arrow-batched in and out — the
    applyInPandasWithState contract the north brief calls out for
    custom stateful operators.

    Late-data policy: events older than the open session's last ts fold
    into the OPEN session (they cannot reopen an already-emitted one) —
    the standard append-mode compromise; the watermark bounds how late
    such events can be.
    """
    import pandas as pd

    gap = pd.Timedelta(minutes=gap_minutes)

    def fold(key, pdfs, state):
        rows = pd.concat(list(pdfs))
        if rows.empty:
            return
        ts_sorted = rows["ts"].sort_values()
        if state.exists:
            s_start, last, n = state.get
            s_start, last = pd.Timestamp(s_start), pd.Timestamp(last)
        else:
            s_start = last = None
            n = 0
        closed = []
        for ts in ts_sorted:
            if s_start is None:
                s_start, last, n = ts, ts, 1
            elif ts - last > gap:
                closed.append((key[0], s_start, last, n))
                s_start, last, n = ts, ts, 1
            else:
                last, n = max(last, ts), n + 1
        state.update((s_start.to_pydatetime(), last.to_pydatetime(), int(n)))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end",
                         "n_events"],
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(pages_stream: DataFrame, text_col: str = "text",
                 ts_col: str = "warc_ts",
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival of each distinct
    ``text_col`` body, dropping re-crawls/mirrors as they stream in —
    the ingest-side twin of ops.dedup.exact_duplicates (which dedups a
    corpus at rest; this op keeps the corpus deduped as it lands).

    Built on ``dropDuplicatesWithinWatermark`` over the md5 of the
    body: duplicate arrivals within the event-time watermark window
    are dropped, and the dedup state for a key is reclaimed once the
    watermark passes it — bounded state, which is what makes this
    viable on an unbounded 100 TB/day crawl (an unbounded-state
    dropDuplicates would OOM; a wider watermark trades memory for a
    longer dedup horizon, and anything beyond the horizon is caught by
    the batch dedup in the curation pipeline). State is hash-partitioned
    by key across executors like any stateful streaming op."""
    return (
        pages_stream
        .withColumn("_text_md5", F.md5(F.col(text_col).cast("binary")))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_text_md5"])
        .drop("_text_md5")
    )


def ingestion_stats(pages_stream: DataFrame,
                    watermark: str = "2 minutes",
                    window: str = "1 minute") -> DataFrame:
    """Watermarked event-time monitoring: docs + bytes per warc_ts
    window; rows later than the watermark are dropped (late-data
    policy), windows finalize once the watermark passes."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.octet_length("html")).alias("bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang", "n_docs", "bytes",
        )
    )
