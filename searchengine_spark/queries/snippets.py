"""Snippet (best-passage) extraction — the result-page surface the
reference never built (its REPL prints bare doc ids, main.py:430-437);
every real web search result needs a query-biased passage.

Pipeline shape (all sizes bounded by the query, never the corpus):

1. top-k docs come from the ranked engine (``rank_topk``) — k rows;
2. hit positions = postings filtered to the query terms, semi-joined
   (broadcast) to those k docs, positions exploded — at most
   k * |terms| * max_tf rows;
3. the best window of ``width`` tokens per doc maximizes (distinct
   query terms, then total hits, then earliest start). Any optimal
   window can start AT a hit position, so candidate starts are exactly
   the hits, scored with one RANGE-frame window function per doc — no
   self-join, no pass over non-matching positions;
4. snippet text is the token-array slice ``[win_start, width]`` from
   the documents table (one broadcast-hash join of k rows against the
   corpus scan; on a real deployment the documents table is bucketed
   by doc_id so this is k point lookups, see sources/snapshots.py).

Whole-stage codegen end to end. Window SELECTION (steps 1-3) is
analyzer-agnostic — it reads whatever positions the index holds. Text
RENDERING (step 4) re-tokenizes with the simple analyzer's
``token_array``, so win_start must refer to simple-token positions:
use a simple-analyzer index (as the gate and bench do), or positions
drift wherever the reference analyzer's quirks (hyphen triple-emit,
empty-token drops) change the token stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..indexing.build import SparkIndex, term_filter
from ..indexing.simple import token_array
from .ranked import query_rank_terms, rank_topk


def query_hits(index: SparkIndex, terms: list[str],
               docs_subset: DataFrame) -> DataFrame:
    """(doc_id, term, pos) for the query terms within the given doc
    subset (a small DataFrame with a doc_id column — broadcast)."""
    matched = term_filter(index.postings, terms)
    return (
        matched.join(F.broadcast(docs_subset.select("doc_id")), "doc_id")
        .select("doc_id", "term", F.explode("positions").alias("pos"))
    )


def best_windows(hits: DataFrame, width: int = 8) -> DataFrame:
    """(doc_id, win_start, n_terms, hits) — the best ``width``-token
    window per doc: most distinct query terms, then most total hits,
    then earliest start. One RANGE-frame window pass over the hits."""
    frame = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("pos").cast("long"))
        .rangeBetween(Window.currentRow, width - 1)
    )
    scored = hits.select(
        "doc_id",
        F.col("pos").alias("win_start"),
        F.size(F.collect_set("term").over(frame)).cast("long").alias("n_terms"),
        F.count("*").over(frame).cast("long").alias("hits"),
    )
    best = Window.partitionBy("doc_id").orderBy(
        F.col("n_terms").desc(), F.col("hits").desc(), F.col("win_start").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(best))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def snippets_topk(
    index: SparkIndex,
    docs: DataFrame,
    query: str,
    strategy: str = "bm25",
    k: int = 10,
    width: int = 8,
    normalize=None,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score, win_start, n_terms, hits, snippet) for the top-k
    ranked docs — the full search-result surface: rank, locate the best
    passage, render it from the source text."""
    terms = [t for t in query_rank_terms(query, normalize) if t]
    topk = rank_topk(index, query, strategy, k, normalize=normalize)
    hits = query_hits(index, terms, topk)
    best = best_windows(hits, width)
    toks = docs.select(
        F.col(doc_id_col).cast("long").alias("doc_id"),
        token_array(F.col(text_col)).alias("_ts"),
    )
    return (
        topk.join(best, "doc_id")
        .join(toks, "doc_id")
        .select(
            "doc_id",
            "score",
            "win_start",
            "n_terms",
            "hits",
            F.concat_ws(
                " ", F.slice("_ts", F.col("win_start").cast("int"), width)
            ).alias("snippet"),
        )
    )
