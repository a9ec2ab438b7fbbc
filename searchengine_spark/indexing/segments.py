"""Block-split posting-list segments — the Spark-native
rebuild of the reference's disk index format
(/root/reference/diskindexwriter.py:58-114: per term ``VB(df)`` then per
posting ``VB(docid_gap) VB(tftd) VB(position_gaps...)``), redesigned for
10^12-doc scale:

* **Posting-list splitting**: block id = ``doc_id // block_span``.
  Fixed doc-id ranges → the (term, block) grouping key is bounded by
  ``block_span`` rows per group, so Zipf head terms ("the" in every
  doc) can never produce a straggler group — the skew handling the
  north rule requires, with no window and no salting round-trip.
  Spark's partial aggregation performs the two-stage combine.
* **Plain Parquet arrays** per (term, block) group, sorted by doc_id:
  ``doc_ids array<long>`` (absolute ids, not gaps), ``tftds array<int>``,
  ``positions array<array<int>>`` and ``doc_lengths array<int>``.  The
  reference's VB+gap codec (vb.py) suits a flat byte file read with
  seeks; inside Parquet it is an opaque binary the writer cannot
  dictionary-encode, and decoding it needs a Python worker.  Arrays let
  the Parquet writer dictionary-encode each leaf column (on url-hash
  ids that packs an 8-byte id into a few bits) and decode in the JVM as
  ``explode(arrays_zip(...))``.  On small dense ids, where VB gaps take
  one byte, the arrays are larger than VB was.
* **Block-max metadata**: per (term, block) ``df_block``, ``max_tftd``
  and ``min_doc_length`` — the inputs to a BM25 score upper bound —
  feed block-max WAND pruning (queries/wand.py; Broder et al. 2003,
  Ding & Suel 2011 as surfaced in PAPERS.md).
* **Columnar position-skipping**: positions live in their own column;
  ranked reads project only (doc_ids, tftds, doc_lengths) — the
  columnar replacement for the reference's byte-skipping read path
  (``indexes/diskpositionalindex.py``).
* Committed by ONE writer, ``pipeline/index_pipeline.publish_segments``,
  which adds ``bucket = crc32(term) % n`` and range-clusters the files
  by it, so a query's term lookups plan away every file outside their
  buckets from manifest stats (the Spark analogue of the SQLite
  term→offset B-tree, the reference's diskindexwriter.py:30-38).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import sql_literal

DEFAULT_BLOCK_SPAN = 4096


def build_segments(postings: DataFrame, doc_stats: DataFrame,
                   block_span: int = DEFAULT_BLOCK_SPAN) -> DataFrame:
    """postings(term, doc_id, tftd, positions) → block-split segments:
    (term, block, df_block, max_tftd, min_doc_length, doc_ids, tftds,
    positions, doc_lengths), the arrays sorted by doc_id.

    Per-posting doc_lengths ride INSIDE the segment (``doc_lengths``)
    so ranked/WAND reads score without any doc_stats join — the segment
    is self-contained the way the reference's postings.bin +
    docWeights.bin pair is after a single seek. Uses the denormalized
    ``doc_length`` posting column when present (SparkIndex contract);
    falls back to a doc_stats join for bare postings frames."""
    if "doc_length" in postings.columns:
        with_dl = postings.select("term", "doc_id", "tftd", "positions",
                                  "doc_length")
    else:
        with_dl = postings.select("term", "doc_id", "tftd", "positions").join(
            doc_stats.select("doc_id", "doc_length"), "doc_id"
        )
    with_block = with_dl.withColumn(
        "block", (F.col("doc_id") / F.lit(block_span)).cast("long")
    )
    grouped = with_block.groupBy("term", "block").agg(
        F.count("*").cast("long").alias("df_block"),
        F.max("tftd").cast("int").alias("max_tftd"),
        F.min("doc_length").cast("double").alias("min_doc_length"),
        F.sort_array(F.collect_list(F.struct(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("tftd").cast("int").alias("tftd"),
            F.col("positions").cast("array<int>").alias("positions"),
            F.col("doc_length").cast("int").alias("doc_length"),
        ))).alias("ps"),
    )
    return grouped.select(
        "term", "block", "df_block", "max_tftd", "min_doc_length",
        F.col("ps.doc_id").alias("doc_ids"),
        F.col("ps.tftd").alias("tftds"),
        F.col("ps.positions").alias("positions"),
        F.col("ps.doc_length").alias("doc_lengths"),
    )


SEG_COLS = [
    "term", "block", "df_block", "max_tftd", "min_doc_length",
    "doc_ids", "tftds", "positions", "doc_lengths",
]


def hash_block_span(n_docs: int, docs_per_block: int = 512) -> int:
    """Block span for url-HASH doc_ids (uniform over [0, 2^63)), sized
    so a block holds ~``docs_per_block`` docs at the given corpus size.

    ``block = doc_id // span`` only groups postings when the span is
    scaled to the ID SPACE: with dense ids a span of 4096 means 4096
    docs per block, but with hash ids it means 4096 *hash units* —
    ~2^51 blocks, one posting per (term, block) group, which destroys
    the block-max metadata (one bound per posting) and multiplies the
    per-row overhead of every array. Measured on the 20k-doc pages
    corpus with the earlier VB encoder: 1.0 postings/group and a 131 s
    segment commit vs ~8 s once the span matches the space.

    The span is a build-time property recorded in the index table
    (``properties["block_span"]``) and reused verbatim by refresh,
    merge and streaming-delta paths, so adaptivity at build time never
    desynchronizes (term, block) keys across versions. Growth is safe:
    a corpus that doubles just halves docs/block until the next major
    rewrite re-derives the span."""
    n_blocks = max(1, n_docs // docs_per_block)
    # cap: 2^63 itself overflows a signed long (tiny corpora → 1 block)
    return min((1 << 63) - 1, (1 << 63) // n_blocks)


def merge_segments(base: DataFrame, delta: DataFrame,
                   superseded: DataFrame | None = None,
                   block_span: int = DEFAULT_BLOCK_SPAN) -> DataFrame:
    """Lucene-style segment merge: fold a (small) delta index into an
    existing segment set, rewriting ONLY the groups the delta touches.

    The reference's disk index is write-once (diskindexwriter.py builds
    the whole postings.bin in one shot; adding documents means a full
    rebuild). At 10^12 docs a rebuild per crawl batch is untenable —
    this is the posting-list MERGE the north rule names, with cost
    proportional to the delta, not the index:

    * a base (term, block) group is rewritten only when (a) the delta
      writes the same (term, block), or (b) its block holds a
      superseded doc_id (stale postings must be dropped). Everything
      else passes through as untouched columnar rows — no decode, no
      regroup, no shuffle of cold data (the anti-join against the
      broadcast collision set is exchange-free on the base side).
    * ``superseded`` (doc_ids whose old postings the delta replaces —
      re-crawled or deleted pages) is delta-sized by assumption and is
      broadcast; pass ``None`` for pure appends (fresh doc_ids).
    * hot groups decode → drop superseded → union the decoded delta →
      regroup via :func:`build_segments`, so merged rows are
      identical to a from-scratch build of the logical union corpus
      (the grouping is deterministic: arrays sorted by doc_id;
      asserted by pytest and the ``segments_merge`` gate entry).

    Returns the WHOLE merged set (cold base groups ∪ regrouped hot
    groups), so it replaces the base: publish it with
    ``mode="overwrite"`` — appended, the cold groups would be stored
    twice.  ``pipeline/refresh.refresh_pages_index`` is the merge-on-read
    alternative that writes only the delta.

    Scale shape: with B = blocks touched by the delta, the rewrite work
    is O(B · block_span) postings regardless of index size. A uniformly
    random re-crawl touches every block (any doc-range layout degrades
    the same way); batch re-crawls by doc-id locality to keep B small.
    """
    base = base.select(*SEG_COLS)
    delta = delta.select(*SEG_COLS)

    delta_keys = delta.select("term", "block").distinct() \
        .withColumn("_collide", F.lit(True))
    tagged = base.join(F.broadcast(delta_keys), ["term", "block"], "left")
    if superseded is not None:
        sup_ids = superseded.select(F.col("doc_id").cast("long").alias("doc_id"))
        sup_blocks = sup_ids.select(
            (F.col("doc_id") / F.lit(block_span)).cast("long").alias("block")
        ).distinct().withColumn("_sup", F.lit(True))
        tagged = tagged.join(F.broadcast(sup_blocks), ["block"], "left")
    else:
        tagged = tagged.withColumn("_sup", F.lit(None).cast("boolean"))
    hot = F.coalesce(F.col("_collide"), F.lit(False)) | \
        F.coalesce(F.col("_sup"), F.lit(False))

    base_cold = tagged.filter(~hot).select(*SEG_COLS)
    base_hot = tagged.filter(hot).select(*SEG_COLS)

    hot_postings = decode_postings(base_hot, terms=None)
    if superseded is not None:
        hot_postings = hot_postings.join(F.broadcast(sup_ids), "doc_id",
                                         "left_anti")
    merged_postings = hot_postings.unionByName(
        decode_postings(delta, terms=None))
    merged_hot = build_segments(merged_postings, doc_stats=None,
                                block_span=block_span)
    return base_cold.unionByName(merged_hot.select(*SEG_COLS))


def biword_as_segments(biword: DataFrame,
                       block_span: int = DEFAULT_BLOCK_SPAN) -> DataFrame:
    """Store the biword index (term "t1 t2" → doc_ids;
    /root/reference/indexes/positionalinvertedindex.py biword map, fed
    by main.py:413-418's two-term fast path) through the SAME segment
    format so one published table serves the whole query surface.

    Biword keys always contain a space and unigram terms never do (the
    tokenizer splits on ' '), so the two posting families share the
    table without a discriminator column: a term lookup can only ever
    match its own family, and ranked/WAND reads — which look up unigram
    terms — never touch a biword row. Positions are empty, tftd/doc
    lengths are 1 (the fast path reads doc_ids only)."""
    return build_segments(
        biword.select("term", "doc_id").distinct().select(
            "term",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.lit(1).cast("int").alias("tftd"),
            F.array().cast("array<int>").alias("positions"),
            F.lit(1.0).alias("doc_length"),
        ),
        doc_stats=None,
        block_span=block_span,
    )


def decode_postings(segments: DataFrame, terms: list[str] | None,
                    with_positions: bool = True,
                    passthrough: tuple = ()) -> DataFrame:
    """Segments → exploded postings for a term set, as ONE ``spark.sql``
    statement. Ranked reads pass ``with_positions=False`` and never
    touch the positions column (columnar projection = the reference's
    position-skip, R2).  ``terms=None`` decodes EVERY segment
    (full-index scan — bulk verification / reindexing path) without
    collecting the vocabulary to the driver.  ``passthrough`` names
    extra segment columns carried onto every decoded posting row (e.g.
    the snapshot layer's ``_seq`` sequence number, which the
    merge-on-read delete rule keys on)."""
    # Ranked reads skip the positions column entirely (columnar
    # position-skip, R2) but keep the in-segment doc_lengths — the
    # scorer needs no doc_stats join.
    arrays = {"doc_ids": "doc_id", "tftds": "tftd"}
    if with_positions:
        arrays["positions"] = "positions"
    arrays["doc_lengths"] = "doc_length"
    keep = ", ".join(["term", *passthrough])
    where = ""
    if terms is not None:
        listed = ", ".join(map(sql_literal, terms))
        where = f" WHERE term IN ({listed})" if terms else " WHERE false"
    # Fail loudly rather than zero-fill: a missing doc_length would
    # silently inflate BM25 wdt for every posting in the block. Only
    # segments written without doc_lengths can hit this.
    missing = sql_literal(
        "segment is missing doc_lengths (written by an old format?) — "
        "rebuild segments with build_segments()")
    text = (
        f"SELECT {keep}, "
        + ", ".join(f"z.{src} AS {dst}" for src, dst in arrays.items())
        + f" FROM (SELECT {keep}, explode(CASE WHEN doc_lengths IS NULL OR "
        f"size(doc_lengths) != size(doc_ids) THEN raise_error({missing}) "
        f"ELSE arrays_zip({', '.join(arrays)}) END) AS z "
        f"FROM {{segments}}{where})")
    try:
        return segments.sparkSession.sql(text, segments=segments)
    except AnalysisException:
        if "docids_vb" in segments.columns:
            raise ValueError(
                "segments are in the retired VB format (docids_vb binary "
                "columns) — rebuild them with build_segments()") from None
        raise
