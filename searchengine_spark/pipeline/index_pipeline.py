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
    block_span: int = 4096,
    term_buckets: int = 64,
) -> DataFrame:
    """Optional final stage: compressed block-split segments
    (indexing/segments.py) as a checkpointed, term-bucket-partitioned
    table — the queryable artifact of the build. Partitioned writes
    give per-(bucket, task) lineage in the manifest."""
    from ..indexing.segments import build_segments

    # "arrays": the segment format; a VB-era checkpoint is not reused
    fp = (f"{PIPELINE_VERSION}:{fingerprint}:arrays"
          f":seg{block_span}x{term_buckets}")

    def build():
        return (
            build_segments(index.postings, index.doc_stats, block_span)
            .withColumn(
                "bucket",
                F.pmod(
                    F.crc32(F.col("term").cast("binary")), F.lit(term_buckets)
                ).cast("int"),
            )
            .withColumn("_build_part", F.spark_partition_id())
            .repartition("bucket")
        )

    return run_stage(spark, root, "segments", fp, build,
                     partition_by=["bucket"])


def publish_segments(
    spark: SparkSession,
    table_root: str,
    segments: DataFrame,
    note: str | None = None,
    mode: str = "overwrite",
    term_buckets: int | None = None,
    cluster: bool = True,
    cluster_partitions: int | None = None,
    corpus_stats: DataFrame | None = None,
    biword: DataFrame | None = None,
) -> int:
    """Commit the queryable segment table as a new snapshot of a
    ``SnapshotTable`` (sources/snapshots.py) — the north rule's
    "term-partitioned index segments written back to Iceberg" step.
    Each build becomes a table version: serving readers pin
    ``table.read(spark, version=v)`` (an immutable file list, so a
    concurrent publish never disturbs them), a bad build is undone with
    ``table.rollback(v-1)`` in O(1), and ``mode="append"`` publishes a
    delta-merge build (indexing/segments.merge_segments) without
    rewriting the base segment files. Returns the committed version.

    ``cluster=True`` range-clusters the written files by term bucket so
    each data file covers a narrow bucket range — that makes the
    manifest's per-file min/max stats selective, and the serving reads
    (pipeline/refresh.refreshed_*) plan away the files outside a
    query's buckets (Iceberg data-file pruning). ``term_buckets`` is
    recorded as a table property so readers recover the bucket modulus
    from the table itself; ``corpus_stats`` rides as the ``n_docs`` and
    ``avg_doc_length`` properties the ranked readers need.

    ``biword`` (the index's two-term fast-path table, columns term
    "t1 t2" + doc_id) rides in the SAME snapshot, stored in the
    segment format (indexing/segments.biword_as_segments): biword keys
    contain a space and unigram terms never do, so no discriminator
    column is needed and one table version serves the reference's whole
    query surface — boolean, phrase (biword fast path), NEAR and
    ranked. Recorded as the ``biword`` table property so serving
    readers know the fast path is available."""
    from ..sources.snapshots import SnapshotTable

    if biword is None and mode == "append":
        # A delta append to a table that serves the biword fast path
        # must carry the delta's biword rows too, or two-term phrase
        # queries silently miss every new document.
        try:
            parent_has_biword = SnapshotTable(table_root).properties().get(
                "biword")
        except (OSError, ValueError, KeyError, IndexError):
            parent_has_biword = False
        if parent_has_biword:
            raise ValueError(
                "appending to a snapshot published with the biword family "
                "requires biword=<delta biword DataFrame> so the fast path "
                "stays complete for the appended documents")

    if biword is not None:
        from ..indexing.segments import biword_as_segments

        bw = biword_as_segments(biword)
        if "bucket" in segments.columns:
            if not term_buckets:
                raise ValueError(
                    "publish_segments(biword=...) on a bucket-partitioned "
                    "segment set needs term_buckets= to bucket the biword "
                    "keys with the same modulus")
            bw = bw.withColumn(
                "bucket",
                F.pmod(F.crc32(F.col("term").cast("binary")),
                       F.lit(term_buckets)).cast("int"),
            )
        segments = segments.unionByName(bw, allowMissingColumns=True)

    if cluster and "bucket" in segments.columns:
        # Explicit partition count pins the file layout (AQE may
        # coalesce a count-less range repartition on small inputs,
        # which would merge bucket ranges and blunt the file stats).
        segments = (
            segments.repartitionByRange(cluster_partitions, "bucket")
            if cluster_partitions
            else segments.repartitionByRange("bucket"))
    props: dict = {"term_buckets": term_buckets} if term_buckets else {}
    if biword is not None:
        props["biword"] = True
    if corpus_stats is not None:
        # The two corpus scalars every BM25/WAND query needs ride as
        # table properties, so a serving reader needs the catalog
        # pointer and nothing else (doc_lengths already ride inside the
        # segments).
        row = corpus_stats.collect()[0]
        props["n_docs"] = int(row["n_docs"])
        props["avg_doc_length"] = float(row["avg_doc_length"])
    return SnapshotTable(table_root).commit(segments, mode=mode, note=note,
                                            properties=props or None)
