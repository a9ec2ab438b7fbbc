"""Structured-Streaming ingestion: incremental index maintenance over
an unbounded pages stream.

The reference is strictly batch (SURVEY.md §2.8) — its only "refresh"
is the REPL's full ``:index <dir>`` rebuild (main.py:261-392). This
module is the streaming-native generalization a 10^12-doc pipeline
needs: new pages land continuously, tokenization+posting construction
run per micro-batch, and the index stays queryable without rebuilds.

Design (delta + compaction, the standard streaming-index shape):

* ``doc_id = stable 63-bit hash of url`` — dense global ranks are
  incompatible with unbounded streams (any new url would renumber the
  corpus); every index/query operator here is id-agnostic, only
  uniqueness and determinism matter. xxhash64 is Spark-native and
  stable across runs/partitions.
* Each micro-batch appends ``postings_delta`` / ``doc_stats_delta``
  parquet (partitioned by batch) via ``foreachBatch`` — append-only,
  exactly-once per Spark's checkpointed source offsets.
* ``compact_index`` merges deltas into a consolidated SparkIndex
  (last-write-wins per (url-hash) doc: re-crawled pages replace their
  old postings by doc_id identity, since identical urls share an id).
* ``start_segment_maintenance`` keeps the SERVING artifact (compressed
  block-split segments) current per micro-batch via ``merge_segments``
  with versioned directories and an atomic pointer swap — MVCC for
  readers; regroup work per batch ∝ batch size, but each batch
  rewrites the whole segment set.
* ``ingestion_stats`` is the watermarked event-time aggregation
  (1-minute windows on ``warc_ts``, 2-minute late-data watermark) —
  the monitoring stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import PAGES_SCHEMA
from ..indexing.build import SparkIndex, analyze_udf


def stream_pages(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of pages parquet drops."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def _latest_per_url(batch: DataFrame) -> DataFrame:
    """In-batch last-write-wins: a url re-crawled WITHIN one micro-batch
    keeps only its newest row (event time ``warc_ts``; deterministic
    content-hash tiebreak for equal timestamps). Across batches the
    later batch supersedes (compact_index's batch_id rule / the segment
    path's superseded set) — together: latest batch, then latest crawl
    time within it."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc(F.xxhash64("text")))
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _analyze_pages(batch: DataFrame) -> DataFrame:
    """pages micro-batch → per-doc grouped analysis (url-hash doc_id,
    reference analyzer, doc-local postings arrays). In-batch re-crawls
    resolve to the newest row first (_latest_per_url)."""
    batch = _latest_per_url(batch)
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


# The two page-batch transforms are plain DataFrame functions — the
# batch refresh loop (pipeline/refresh.py) shares them so streamed and
# batch-refreshed indexes agree on doc identity and analysis.
latest_per_url = _latest_per_url
analyze_pages = _analyze_pages


def _index_batch(batch: DataFrame, batch_id: int, root: str) -> None:
    """foreachBatch body: analyze the micro-batch and append deltas."""
    analyzed = _analyze_pages(batch)
    (
        analyzed.withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .parquet(f"{root}/analyzed_delta")
    )


def start_incremental_index(spark: SparkSession, input_dir: str, root: str,
                            available_now: bool = True):
    """Run the ingestion stream; ``available_now=True`` drains what's
    there and stops (test/backfill mode), else runs continuously."""
    stream = stream_pages(spark, input_dir)
    writer = (
        stream.writeStream.foreachBatch(
            lambda b, i: _index_batch(b, i, root)
        )
        .option("checkpointLocation", f"{root}/_checkpoint")
        .outputMode("append")
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.start()


def compact_index(spark: SparkSession, root: str) -> SparkIndex:
    """Deltas → consolidated SparkIndex. Re-crawled urls (same doc_id in
    several batches) resolve last-write-wins by highest batch_id."""
    from pyspark.sql.window import Window

    delta = spark.read.parquet(f"{root}/analyzed_delta")
    w = Window.partitionBy("doc_id").orderBy(F.desc("batch_id"))
    latest = (
        delta.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )

    # Doc-local (shuffle-free) postings + stats — the deltas already
    # carry per-doc grouped arrays; the only exchange in compaction is
    # the last-write-wins window above, which dedupe genuinely needs.
    from ..indexing.build import doc_local_avg_tftd, doc_local_ld

    postings = latest.select(
        "doc_id", F.explode("postings").alias("tp")
    ).select(
        F.col("tp.term").alias("term"),
        "doc_id",
        F.size("tp.positions").cast("int").alias("tftd"),
        F.col("tp.positions").alias("positions"),
    )
    doc_stats = latest.select(
        "doc_id",
        doc_local_ld(F.col("postings")).alias("Ld"),
        F.col("doc_length").cast("double").alias("doc_length"),
        "byte_size",
        doc_local_avg_tftd(F.col("postings")).alias("avg_tftd"),
    )
    corpus_stats = doc_stats.agg(
        F.count("*").alias("n_docs"), F.avg("doc_length").alias("avg_doc_length")
    )
    biword = latest.select(
        "doc_id", F.explode("biwords").alias("term")
    ).select("term", "doc_id")
    return SparkIndex(postings, doc_stats, corpus_stats, biword)


# ---------------------------------------------------------------------------
# Streaming SEGMENT maintenance: the serving (compressed, block-split,
# WAND-ready) index stays fresh per micro-batch via merge_segments —
# the streaming twin of the batch merge path. Each batch indexes its
# delta, merges it into the current segment version (re-crawled urls
# superseded by doc_id identity), writes a NEW versioned directory and
# atomically swaps a pointer file — readers of the previous version are
# never disturbed (MVCC-by-directory; on a real warehouse this is an
# Iceberg snapshot commit). Retention keeps the two newest versions.
# ---------------------------------------------------------------------------

# For url-hashed (sparse, uniform) doc_ids a block is a fixed id RANGE
# slice of the 63-bit space: 2^48 ids per block → 32768 blocks, each
# holding ~n_docs/32768 docs in expectation. Bounded groups without
# coordination — no sequence assignment over an unbounded stream.
# This default targets ~512 docs/block at a 1.6e7-doc stream; a stream
# with a known eventual size should pass
# indexing.segments.hash_block_span(expected_n_docs) instead (batch
# builds via pipeline/refresh.build_pages_index derive it from the
# actual corpus count, and major compaction re-derives it).
STREAM_BLOCK_SPAN = 1 << 48


def read_current_segments(spark: SparkSession, seg_root: str):
    """(segments DataFrame, manifest) of the newest committed version,
    or (None, None) before the first batch lands."""
    import json
    import os

    try:
        with open(os.path.join(seg_root, "_current.json")) as fh:
            cur = json.load(fh)
    except (OSError, ValueError):
        return None, None
    return spark.read.parquet(f"{seg_root}/v{cur['version']}/segments"), cur


class _SegmentScalars:
    """Adapter giving the maintained segment set the corpus_scalars()
    surface ranked/WAND queries expect from a SparkIndex."""

    def __init__(self, n_docs: float, avg_dl: float):
        self._scalars = (n_docs, avg_dl)

    def corpus_scalars(self):
        return self._scalars


def current_queryable(spark: SparkSession, seg_root: str):
    """(segments DataFrame, index-scalars adapter) for the newest
    version — everything wand_topk/ranked scoring needs, with n_docs
    and avg doc length aggregated from the version's own doc-stats
    sidecar (one tiny agg; doc_lengths for scoring ride inside the
    segments themselves)."""
    seg, cur = read_current_segments(spark, seg_root)
    if seg is None:
        return None, None
    row = spark.read.parquet(
        f"{seg_root}/v{cur['version']}/docstats"
    ).agg(
        F.count("*").cast("double").alias("n"),
        F.avg("doc_length").alias("avg_dl"),
    ).collect()[0]
    return seg, _SegmentScalars(float(row["n"]), float(row["avg_dl"]))


def _merge_segments_batch(batch: DataFrame, batch_id: int, seg_root: str,
                          block_span: int) -> None:
    import json
    import os
    import shutil

    from ..indexing.segments import (
        SEG_COLS,
        build_segments,
        merge_segments,
    )

    if batch.isEmpty():
        return
    spark = batch.sparkSession
    analyzed = _analyze_pages(batch)
    postings = analyzed.select(
        "doc_id", "doc_length", F.explode("postings").alias("tp")
    ).select(
        F.col("tp.term").alias("term"),
        "doc_id",
        F.size("tp.positions").cast("int").alias("tftd"),
        F.col("tp.positions").alias("positions"),
        F.col("doc_length").cast("int").alias("doc_length"),
    )
    delta = build_segments(postings, doc_stats=None, block_span=block_span)
    delta_stats = analyzed.select(
        "doc_id", F.col("doc_length").cast("int").alias("doc_length"))
    cur_df, cur = read_current_segments(spark, seg_root)
    if cur_df is None:
        merged = delta
        stats = delta_stats
    else:
        merged = merge_segments(cur_df, delta,
                                superseded=analyzed.select("doc_id"),
                                block_span=block_span)
        stats = spark.read.parquet(
            f"{seg_root}/v{cur['version']}/docstats"
        ).join(F.broadcast(delta_stats.select("doc_id")), "doc_id",
               "left_anti").unionByName(delta_stats)
    os.makedirs(seg_root, exist_ok=True)
    merged.select(*SEG_COLS).write.mode("overwrite").parquet(
        f"{seg_root}/v{batch_id}/segments")
    stats.write.mode("overwrite").parquet(
        f"{seg_root}/v{batch_id}/docstats")
    tmp = os.path.join(seg_root, "_current.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"version": batch_id, "block_span": block_span}, fh)
    os.replace(tmp, os.path.join(seg_root, "_current.json"))
    versions = sorted(int(d[1:]) for d in os.listdir(seg_root)
                      if d.startswith("v") and d[1:].isdigit())
    for v in versions[:-2]:
        shutil.rmtree(f"{seg_root}/v{v}", ignore_errors=True)


def start_segment_maintenance(spark: SparkSession, input_dir: str,
                              seg_root: str,
                              block_span: int = STREAM_BLOCK_SPAN,
                              available_now: bool = True):
    """Maintain queryable compressed segments over a pages stream.

    Unlike :func:`start_incremental_index` (append deltas, compact on
    demand), this keeps the SERVING artifact itself current: after each
    micro-batch, ``read_current_segments`` returns a consistent segment
    set containing exactly the latest crawl of every url seen so far —
    decodable by ``decode_postings`` and scoreable by WAND unchanged.
    Only the delta-touched (term, block) groups are decoded and
    regrouped (see merge_segments), but every micro-batch writes the
    WHOLE merged segment set and doc-stats table to a new ``v{n}/``
    directory with ``mode("overwrite")``: bytes written per batch grow
    with the index, so a perpetual crawl's maintenance cost grows with
    it too. (pipeline/refresh.refresh_pages_index is the O(delta)
    merge-on-read alternative.)"""
    stream = stream_pages(spark, input_dir)
    writer = (
        stream.writeStream.foreachBatch(
            lambda b, i: _merge_segments_batch(b, i, seg_root, block_span)
        )
        .option("checkpointLocation", f"{seg_root}/_checkpoint")
        .outputMode("update")
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.start()


def publish_current(spark: SparkSession, seg_root: str, table_root: str,
                    term_buckets: int = 64,
                    cluster_partitions: int | None = None,
                    note: str | None = None) -> int:
    """Checkpoint the streaming-maintained CURRENT segment set into a
    ``SnapshotTable`` version — the bridge from the streaming
    maintenance loop to the published serving surface
    (pipeline/index_pipeline.publish_segments): bucket-pruned
    stats-planned reads, version pinning/tags/rollback, batch query-log
    serving (queries/serve.ranked_batch_from_published), refcounted
    expiry. Corpus scalars come from the version's doc-stats sidecar
    (one tiny agg) and ride as table properties, exactly like a batch
    build's publish. Returns the committed table version.

    Publishing is an explicit, controlled-cadence step rather than a
    per-micro-batch side effect on purpose: the maintenance loop
    already rewrites the serving set once per batch, and a second
    full write per trigger would double the stream's I/O — on a real
    cluster the query fleet repins the serving table hourly/daily, not
    per crawl drop. The streamed segment set carries no biword family,
    so the published version serves ranked/WAND/boolean — two-term
    phrase queries fall back to positional semantics only if published
    with a biword delta; ``boolean_from_published``'s guard raises
    otherwise rather than silently degrading."""
    from ..pipeline.index_pipeline import publish_segments

    seg, cur = read_current_segments(spark, seg_root)
    if seg is None:
        raise FileNotFoundError(
            f"no committed segment version under {seg_root}")
    corpus_stats = spark.read.parquet(
        f"{seg_root}/v{cur['version']}/docstats"
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("doc_length").alias("avg_doc_length"),
    )
    seg = seg.withColumn(
        "bucket",
        F.pmod(F.crc32(F.col("term").cast("binary")),
               F.lit(term_buckets)).cast("int"),
    )
    return publish_segments(
        spark, table_root, seg,
        note=note or f"stream-maintenance v{cur['version']}",
        term_buckets=term_buckets,
        cluster_partitions=cluster_partitions,
        corpus_stats=corpus_stats,
    )


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
