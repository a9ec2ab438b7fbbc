"""Distributed inverted-index construction — the Spark-native rebuild of
the reference's in-memory indexing loop (/root/reference/main.py:142-217)
and index structures (/root/reference/indexes/positionalinvertedindex.py,
/root/reference/indexes/invertedindex.py).

Design for 10^12-doc scale — the index build is SHUFFLE-FREE:

* Tokenization + stemming runs as ONE Arrow-batched pandas UDF pass per
  document (no per-row Python UDF calls; each unique token in a batch
  is stemmed once via a batch-local cache — Zipfian text makes this
  cache hit >95%). The UDF emits postings ALREADY GROUPED per document
  (term → ascending positions): a positional posting (term, doc_id,
  tftd, positions) is a doc-local fact, so grouping it inside the
  per-doc pass costs O(tokens) in a Python dict and removes the
  (term, doc_id) shuffle entirely — the exploded token stream never
  crosses the wire.
* ``doc_stats`` (Ld, avg_tftd) are likewise doc-local: higher-order
  ``F.aggregate`` over the grouped array computes them in the same map
  stage, so there is no postings→doc_id re-aggregation and no
  doc_stats join. Denormalizing doc stats onto each posting row (the
  SparkIndex contract) is a same-row projection, not a join.
  The whole build is scan → UDF → project/explode: embarrassingly
  parallel by construction, which is why the measured N→4N scaling of
  this stage tracks ~1.0 (BENCH/PERF.md). The only shuffles left in
  the indexing lifecycle are the ones that buy a queryable layout:
  the term-bucket range clustering in
  ``pipeline/index_pipeline.publish_segments`` and per-TERM collection
  stats (``term_stats_salted``, skew-salted).
* ``doc_stats`` / ``corpus_stats`` are tiny per-doc / scalar tables;
  corpus_stats is broadcast at query time.
* Everything downstream is columnar: the ranked path never reads the
  ``positions`` column (columnar projection replaces the reference's
  byte-skipping trick at diskpositionalindex.py:178-186).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..text.tokenizer import analyze_document, analyze_document_stream, process_token

ANALYZE_SCHEMA = T.StructType(
    [
        T.StructField(
            # per-doc GROUPED postings: term → ascending positions
            # (scan order is non-decreasing, and the reference's
            # multi-emit quirks — hyphen triple-emit at one position —
            # appear as repeated adjacent values, exactly what the old
            # sort_array(collect_list(pos)) produced)
            "postings",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("term", T.StringType()),
                        T.StructField("positions", T.ArrayType(T.IntegerType())),
                    ]
                )
            ),
        ),
        T.StructField("doc_length", T.IntegerType()),
        T.StructField("biwords", T.ArrayType(T.StringType())),
    ]
)


# Worker-process-global token→terms cache: Zipfian text makes the hit
# rate ≈100% after the first few batches, so each unique surface token
# is stemmed once per python worker per job — not once per batch.
# Bounded to keep long-lived workers from growing without limit.
_TOKEN_CACHE: dict[str, list[str]] = {}
_TOKEN_CACHE_MAX = 2_000_000


def _make_analyze_batch(analyze_fn):
    def _analyze_batch(texts: pd.Series) -> pd.DataFrame:
        """Analyze one Arrow batch of documents; stems each unique
        token once."""
        cache = _TOKEN_CACHE
        if len(cache) > _TOKEN_CACHE_MAX:
            cache.clear()

        def cached_processor(tok: str) -> list[str]:
            exp = cache.get(tok)
            if exp is None:
                exp = process_token(tok)
                cache[tok] = exp
            return exp

        post_col, len_col, biword_col = [], [], []
        for text in texts:
            ana = analyze_fn(text if text is not None else "", cached_processor)
            # group doc-locally (O(tokens) dict pass) — positions append
            # in scan order, i.e. already ascending per term
            grouped: dict[str, list[int]] = {}
            for t, p in ana.term_positions:
                grouped.setdefault(t, []).append(p)
            post_col.append(
                [{"term": t, "positions": ps} for t, ps in grouped.items()]
            )
            len_col.append(ana.doc_length)
            # per-doc dedupe mirrors InvertedIndex.add_term's consecutive
            # same-doc dedupe (invertedindex.py:11-17)
            biword_col.append(list(dict.fromkeys(ana.biwords)))
        return pd.DataFrame(
            {"postings": post_col, "doc_length": len_col, "biwords": biword_col}
        )

    return _analyze_batch


# Two analyzer UDFs for the reference's TWO indexing loops:
# * analyze_udf — main.py:151-213 pairwise loop (biwords, +1 docLength
#   quirk, 1-token docs dropped): the flagship interactive driver.
# * analyze_stream_udf — the plain per-token loop of its Cranfield and
#   nps drivers (main_precision_recall_all_queries.py:26-43,
#   main_disk.py:24-35): exact token-count docLength, no biwords.
analyze_udf = F.pandas_udf(_make_analyze_batch(analyze_document), ANALYZE_SCHEMA)
analyze_stream_udf = F.pandas_udf(
    _make_analyze_batch(analyze_document_stream), ANALYZE_SCHEMA
)


@dataclass
class SparkIndex:
    """The distributed index: four DataFrames + broadcastable scalars.

    ``postings`` is DENORMALIZED: each row also carries its document's
    (doc_length, Ld, byte_size, avg_tftd). One doc_id-keyed join at
    build time (amortized over every query) buys ranked retrieval that
    never joins a corpus-sized doc_stats table at query time — the
    columnar analogue of Lucene norms living next to the postings.
    ``doc_stats`` remains the normalized per-doc table for direct
    per-document reads (R3) and as the segments-build fallback."""

    postings: DataFrame  # term, doc_id, tftd, positions (+ doc stats)
    doc_stats: DataFrame  # doc_id, Ld, doc_length, byte_size, avg_tftd
    corpus_stats: DataFrame  # n_docs, avg_doc_length
    biword: DataFrame  # term ("t1 t2"), doc_id
    _scalars: tuple[int, float] | None = None

    def corpus_scalars(self) -> tuple[int, float]:
        """(n_docs, avg_doc_length) — collected once, then reused."""
        if self._scalars is None:
            row = self.corpus_stats.collect()[0]
            self._scalars = (int(row["n_docs"]), float(row["avg_doc_length"]))
        return self._scalars

    def cache(self) -> "SparkIndex":
        self.postings.cache()
        self.doc_stats.cache()
        self.biword.cache()
        return self


def build_index(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    byte_size_col: str | None = None,
    persist: bool = False,
    loop: str = "pairwise",
) -> SparkIndex:
    """Build the positional index from a documents DataFrame.

    ``byte_size_col``: column holding the document byte size (feeds the
    Wacky normalizer, main.py:212). Defaults to octet_length(text).
    ``persist=True`` caches the tokenized intermediate so the four index
    outputs (postings/doc_stats/corpus_stats/biword) tokenize each doc
    ONCE instead of once per output action — at warehouse scale the
    same role is played by a checkpointed tokens stage on disk.
    ``loop``: which reference indexing loop to mirror — "pairwise"
    (main.py, biwords + docLength quirk) or "stream" (the
    Cranfield/nps drivers' plain per-token loop; see analyze_udf note).
    """
    byte_size = (
        F.col(byte_size_col).cast("double")
        if byte_size_col
        else F.octet_length(F.col(text_col)).cast("double")
    )
    udf = {"pairwise": analyze_udf, "stream": analyze_stream_udf}[loop]
    analyzed = docs.select(
        F.col(doc_id_col).cast("long").alias("doc_id"),
        udf(F.col(text_col)).alias("a"),
        byte_size.alias("byte_size"),
    )

    # Doc-local stats over the grouped postings array (no shuffle):
    # Ld = sqrt(sum over distinct terms of (1+ln tftd)^2)  (main.py:186-191)
    # avg_tftd = sum(tftd)/#distinct terms                  (main.py:199-209)
    stats = analyzed.select(
        "doc_id",
        F.col("a.postings").alias("plist"),
        F.col("a.doc_length").cast("double").alias("doc_length"),
        F.col("a.biwords").alias("biwords"),
        "byte_size",
        doc_local_ld(F.col("a.postings")).alias("Ld"),
        doc_local_avg_tftd(F.col("a.postings")).alias("avg_tftd"),
    )
    if persist:
        from pyspark import StorageLevel

        # one persisted pass holds the (expensive) UDF output; every
        # index table below is a pure projection of it
        stats = stats.persist(StorageLevel.MEMORY_AND_DISK)

    doc_stats = stats.select("doc_id", "Ld", "doc_length", "byte_size",
                             "avg_tftd")

    corpus_stats = doc_stats.agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_length").alias("avg_doc_length"),
    )

    biword = (
        stats.select("doc_id", F.explode("biwords").alias("term"))
        .select("term", "doc_id")
    )

    # Denormalized postings (see SparkIndex docstring) fall out of the
    # same row: explode the grouped array next to its own doc's stats —
    # a projection, not the doc_id join the pre-grouped design needed.
    postings = stats.select(
        "doc_id", "doc_length", "Ld", "byte_size", "avg_tftd",
        F.explode("plist").alias("tp"),
    ).select(
        F.col("tp.term").alias("term"),
        "doc_id",
        F.size("tp.positions").cast("int").alias("tftd"),
        F.col("tp.positions").alias("positions"),
        "doc_length", "Ld", "byte_size", "avg_tftd",
    )

    return SparkIndex(postings, doc_stats, corpus_stats, biword)


def doc_local_ld(plist) -> F.Column:
    """Ld = sqrt(Σ_t (1+ln tftd_t)²) computed INSIDE the row via a
    higher-order aggregate over the grouped postings array — replaces a
    corpus-wide groupBy(doc_id). Empty docs fold to sqrt(0) = 0.0, the
    old left-join + fillna value."""
    return F.sqrt(
        F.aggregate(
            plist,
            F.lit(0.0),
            lambda acc, x: acc
            + F.pow(
                F.lit(1.0) + F.log(F.size(x["positions"]).cast("double")),
                F.lit(2.0),
            ),
        )
    )


def doc_local_avg_tftd(plist) -> F.Column:
    """avg_tftd = Σ_t tftd_t / #distinct terms, doc-local. 0.0 for
    empty docs (matching the old fillna)."""
    total = F.aggregate(
        plist, F.lit(0), lambda acc, x: acc + F.size(x["positions"])
    )
    return F.when(F.size(plist) > 0,
                  total.cast("double") / F.size(plist)).otherwise(F.lit(0.0))


def term_stats_salted(postings: DataFrame, salt: int = 16) -> DataFrame:
    """Per-term collection stats — df (doc count) and cf (total term
    occurrences) — via EXPLICIT salted two-stage aggregation (north
    rule: Zipf head terms make a naive groupBy(term) reduce-side hot).

    Stage 1 groups on (term, doc_id % salt): each head term's rows
    split across ``salt`` independent reducers. Stage 2 combines the
    ≤salt partials per term — a tiny shuffle. Spark's partial
    (map-side) aggregation gives similar protection implicitly when
    maps see mixed keys; the explicit salt guarantees bounded reducer
    fan-in regardless of AQE/partial-agg behavior, which is the
    contract that matters at 10^12 docs.
    """
    stage1 = (
        postings.withColumn("_salt", F.pmod(F.col("doc_id"), F.lit(salt)))
        .groupBy("term", "_salt")
        .agg(
            F.count("*").alias("_df_part"),
            F.sum("tftd").alias("_cf_part"),
        )
    )
    return stage1.groupBy("term").agg(
        F.sum("_df_part").cast("long").alias("df"),
        F.sum("_cf_part").cast("long").alias("cf"),
    )


def term_bucket(term: str, term_buckets: int = 64) -> int:
    """Driver-side bucket id for a term — crc32 so Python and the JVM
    (:func:`term_bucket_col`) agree, letting query-time lookups emit
    LITERAL bucket predicates that plan data files away (the Spark
    analogue of the reference's SQLite term->byte-offset seek,
    diskindexwriter.py:116-123)."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % term_buckets


def term_bucket_col(term_buckets: int) -> F.Column:
    """The JVM twin of :func:`term_bucket` over the ``term`` column —
    the one place an index table's ``bucket`` column is computed."""
    return F.pmod(F.crc32(F.col("term").cast("binary")),
                  F.lit(term_buckets)).cast("int")


def term_filter(df: DataFrame, terms: list[str]) -> DataFrame:
    """Filter a postings or segments frame to a term set. Bucket
    pruning happens earlier, when the index table's files are planned
    (pipeline/refresh.published_postings)."""
    return df.filter(F.col("term").isin(terms))
