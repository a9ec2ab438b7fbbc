"""The staged, checkpoint-resumable index build (north rule).

Stage graph (each stage = parquet + lineage manifest via
``checkpoint.run_stage``; any prefix can be resumed):

    docs       pages(url, warc_ts, html, text, lang) → extracted text +
               deterministic doc_id (global url rank, corpus.py)
    analyzed   ONE Arrow pandas-UDF pass: per-doc GROUPED postings
               (term → ascending positions), doc_length, biwords,
               byte_size — the only Python stage; everything downstream
               is whole-stage-codegen JVM
    postings   (term, doc_id, tftd, positions + denormalized doc stats)
               — a pure MAP stage (explode of the doc-grouped arrays):
               positional postings are doc-local facts, so this build
               needs NO shuffle at all (v2; v1 shuffled on
               (term, doc_id) and its measured N→4N scaling, 0.75,
               capped the whole pipeline — see PERF.md)
    doc_stats / corpus_stats / biword — doc_stats is likewise map-only
               (higher-order aggregate per row); corpus_stats is the
               one scalar agg

The expensive tokenization runs exactly once per corpus regardless of
how many outputs or query sessions follow — the warehouse-scale
replacement for in-memory ``.persist()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import docs_from_pages, pages_df
from ..indexing.build import (
    SparkIndex,
    analyze_udf,
    doc_local_avg_tftd,
    doc_local_ld,
    term_bucket_col,
)
from ..indexing.segments import (
    DEFAULT_BLOCK_SPAN,
    SEG_COLS,
    biword_as_segments,
    build_segments,
)
from .checkpoint import run_stage

PIPELINE_VERSION = "v2"  # v2 = doc-grouped analyzed schema, map-only stages


def stage_docs(spark: SparkSession, root: str, n_docs: int, seed: int = 42,
               partitions: int | None = None) -> DataFrame:
    fp = f"{PIPELINE_VERSION}:docs:{n_docs}:{seed}"
    return run_stage(
        spark, root, "docs", fp,
        lambda: docs_from_pages(pages_df(spark, n_docs, seed, partitions=partitions)),
    )


def run_index_pipeline(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    fingerprint: str,
    byte_size_col: str | None = "byte_size",
) -> SparkIndex:
    """Stages analyzed → postings/doc_stats/corpus_stats/biword from a
    docs DataFrame (columns: doc_id, text [, byte_size])."""
    fp = f"{PIPELINE_VERSION}:{fingerprint}"

    byte_size = (
        F.col(byte_size_col).cast("double")
        if byte_size_col and byte_size_col in docs.columns
        else F.octet_length(F.col("text")).cast("double")
    )

    # Parquet splits are sized by BYTES (maxPartitionBytes), but the
    # analyze stage's cost is CPU per row (tokenize+stem) — a byte-sized
    # split count under-parallelizes it badly. Repartition to a multiple
    # of total cores; the small text shuffle is ~free next to the UDF.
    n_parts = max(spark.sparkContext.defaultParallelism * 3, 8)
    docs = docs.repartition(n_parts)

    analyzed = run_stage(
        spark, root, "analyzed", fp,
        lambda: docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            analyze_udf(F.col("text")).alias("a"),
            byte_size.alias("byte_size"),
        ).select(
            "doc_id",
            F.col("a.postings").alias("postings"),
            F.col("a.doc_length").alias("doc_length"),
            F.col("a.biwords").alias("biwords"),
            "byte_size",
        ),
    )

    # MAP-ONLY: postings are doc-local facts, already grouped by the
    # analyze UDF — this stage is explode + same-row stat projection
    # (the denormalized SparkIndex contract), no exchange anywhere.
    # The Ld/avg_tftd aggregates MUST be a separate select BELOW the
    # explode: a generator in the same select puts every other
    # expression in the Project ABOVE Generate, re-running the
    # O(#terms) fold once per exploded posting row (~tftd× per doc —
    # measured 1.5-1.7× whole-pipeline slowdown).
    postings = run_stage(
        spark, root, "postings", fp,
        lambda: (
            analyzed.select(
                "doc_id",
                F.col("doc_length").cast("double").alias("doc_length"),
                "byte_size",
                doc_local_ld(F.col("postings")).alias("Ld"),
                doc_local_avg_tftd(F.col("postings")).alias("avg_tftd"),
                "postings",
            ).select(
                "doc_id", "doc_length", "byte_size", "Ld", "avg_tftd",
                F.explode("postings").alias("tp"),
            ).select(
                F.col("tp.term").alias("term"),
                "doc_id",
                F.size("tp.positions").cast("int").alias("tftd"),
                F.col("tp.positions").alias("positions"),
                "doc_length", "Ld", "byte_size", "avg_tftd",
            )
        ),
    )

    # MAP-ONLY: per-doc weights via the same higher-order aggregates —
    # no postings re-aggregation, no join.
    doc_stats = run_stage(
        spark, root, "doc_stats", fp,
        lambda: (
            analyzed.select(
                "doc_id",
                doc_local_ld(F.col("postings")).alias("Ld"),
                F.col("doc_length").cast("double").alias("doc_length"),
                "byte_size",
                doc_local_avg_tftd(F.col("postings")).alias("avg_tftd"),
            )
        ),
    )

    corpus_stats = run_stage(
        spark, root, "corpus_stats", fp,
        lambda: doc_stats.agg(
            F.count("*").alias("n_docs"),
            F.avg("doc_length").alias("avg_doc_length"),
        ),
    )

    biword = run_stage(
        spark, root, "biword", fp,
        lambda: (
            analyzed.select("doc_id", F.explode("biwords").alias("term"))
            .select("term", "doc_id")
        ),
    )

    return SparkIndex(postings, doc_stats, corpus_stats, biword)


def stage_segments(
    spark: SparkSession,
    root: str,
    index: SparkIndex,
    fingerprint: str,
    block_span: int = DEFAULT_BLOCK_SPAN,
) -> DataFrame:
    """Optional final stage: block-split segments
    (indexing/segments.build_segments) as a checkpoint, ready for
    :func:`publish_segments` — which alone decides the served table's
    bucketing and file clustering."""
    # "arrays": the segment format; an older VB-era or bucketed
    # checkpoint has another fingerprint and is rebuilt
    fp = f"{PIPELINE_VERSION}:{fingerprint}:arrays:seg{block_span}"
    return run_stage(
        spark, root, "segments", fp,
        lambda: build_segments(index.postings, index.doc_stats, block_span))


def publish_segments(
    spark: SparkSession,
    table_root: str,
    segments: DataFrame,
    term_buckets: int = 64,
    block_span: int = DEFAULT_BLOCK_SPAN,
    *,
    mode: str = "overwrite",
    note: str | None = None,
    biword: DataFrame | None = None,
    corpus_stats: DataFrame | None = None,
    properties: dict | None = None,
    deletes: DataFrame | None = None,
) -> int:
    """Commit segment rows (indexing/segments.SEG_COLS) as a new
    snapshot of the index ``SnapshotTable`` at ``table_root`` — the
    north rule's "term-partitioned index segments written back to
    Iceberg" step, and the ONLY writer of an index table: it alone
    decides the bucketing, the file clustering and the layout
    properties, so readers and the files can never disagree on them.
    Returns the committed version.

    * ``bucket`` is derived here (``term_bucket_col(term_buckets)``);
      any ``bucket`` column the caller brings is replaced.  The files
      are range-clustered by it, so each covers a narrow bucket range,
      the manifest's per-file min/max stats stay selective, and the
      serving reads (pipeline/refresh.refreshed_*) plan away the files
      outside a query's buckets (Iceberg data-file pruning).
    * ``term_buckets`` and ``block_span`` are recorded as table
      properties: readers take the bucket modulus from the table, and
      refresh/rewrite reuse the span.  An append must match the
      parent's values.
    * ``biword`` — the index's two-term fast-path table (term "t1 t2",
      doc_id) — rides in the SAME snapshot through the segment format
      (indexing/segments.biword_as_segments, with this ``block_span``):
      biword keys contain a space and unigram terms never do, so one
      table version serves boolean, phrase (biword fast path), NEAR and
      ranked queries.  Passing it sets the ``biword`` property, which
      later commits inherit; an append to a biword table must pass the
      delta's biword rows.
    * ``corpus_stats`` rides as the ``n_docs`` and ``avg_doc_length``
      properties the ranked readers need; ``properties`` adds any
      other table property (the layout keys above are the writer's).
    * ``deletes`` (a ``doc_id`` frame, ``mode="append"``) is a
      merge-on-read row-delta commit: older rows of those doc_ids are
      dropped at read time, this commit's rows are kept.

    Each commit is a table version: serving readers pin a version (an
    immutable file list, so a concurrent publish never disturbs them),
    and a bad build is undone with ``SnapshotTable.rollback`` in O(1).
    ``mode="append"`` adds the segments as a new layer next to the
    parent's files — for fresh documents, or with ``deletes`` for
    superseded ones.  An ``indexing/segments.merge_segments`` result is
    a whole segment set and is published with ``mode="overwrite"``."""
    from ..sources.snapshots import SnapshotTable

    table = SnapshotTable(table_root)
    if mode == "append":
        parent = (table.properties()
                  if table.current_version() is not None else {})
        if biword is None and parent.get("biword"):
            # two-term phrase queries would silently miss every
            # appended document
            raise ValueError(
                "appending to a snapshot published with the biword family "
                "requires biword=<delta biword DataFrame> so the fast path "
                "stays complete for the appended documents")
        for key, value in (("term_buckets", term_buckets),
                           ("block_span", block_span)):
            if parent.get(key, value) != value:
                raise ValueError(
                    f"append with {key}={value} to a table recorded with "
                    f"{key}={parent[key]}: every layer of an index table "
                    "shares one layout")

    segments = segments.select(*SEG_COLS)
    if biword is not None:
        segments = segments.unionByName(
            biword_as_segments(biword, block_span))
    segments = segments.withColumn(
        "bucket", term_bucket_col(term_buckets)).repartitionByRange("bucket")

    props = {**(properties or {}),
             "term_buckets": term_buckets, "block_span": block_span}
    if biword is not None:
        props["biword"] = True
    if corpus_stats is not None:
        row = corpus_stats.collect()[0]
        props["n_docs"] = int(row["n_docs"])
        props["avg_doc_length"] = float(row["avg_doc_length"])
    return table.commit(
        segments, mode=mode, note=note, properties=props, deletes=deletes,
        equality_columns=["doc_id"] if deletes is not None else None)
