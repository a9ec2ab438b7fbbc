"""Duplicate-aware (diversified) serving — top-k with at most one
result per near-duplicate cluster. Web corpora are full of mirrors and
boilerplate twins; a result page that shows five copies of the same
page wastes four slots, so serving dedup is a standard web-search
post-filter (near-duplicate suppression at query time, Manning IIR
§19.6). The cluster assignment comes from the offline dedup pipeline
(ops.dedup.duplicate_clusters — MinHash/LSH candidates, Jaccard
verify, connected components), i.e. this is the query-time consumer of
that pipeline's output table.

Scale shape: the scored set is matched-postings-sized (ranked.rank_scores,
whose dft window sends each query term's postings to one task); the
cluster table joins on doc_id (bucketed by doc_id in a real deployment);
best-per-cluster is a partial-aggregable groupBy(max(struct(score,
doc_id))) — no window over a corpus-sized partition, head clusters
combine map-side (Spark plans it as a partial and a final
SortAggregate: a hash buffer cannot hold the struct); final top-k stays
TakeOrderedAndProject.  tests/test_scorer_plans.py asserts this plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..indexing.build import SparkIndex
from .ranked import rank_scores


def rank_topk_diverse(
    index: SparkIndex,
    query: str,
    clusters: DataFrame,
    strategy: str = "bm25",
    k: int = 10,
    normalize=None,
) -> DataFrame:
    """(doc_id, score, cluster_id) — top-k over cluster
    REPRESENTATIVES: per near-dup cluster only its best-scoring match
    survives (ties doc_id desc, the heap convention); docs outside any
    cluster are their own singleton (coalesce(cluster_id, doc_id)).
    Selection happens over the FULL scored set: suppressing dups from
    a text top-k would under-fill the page instead of promoting the
    next distinct result."""
    scored = rank_scores(index, query, strategy, normalize=normalize)
    cl = clusters.select(
        F.col("doc_id").alias("_cdoc"), F.col("cluster_id")
    )
    tagged = (
        scored.join(cl, scored["doc_id"] == cl["_cdoc"], "left")
        .select(
            "doc_id",
            "score",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    best = (
        tagged.groupBy("cluster_id")
        .agg(F.max(F.struct(F.col("score"), F.col("doc_id"))).alias("_b"))
        .select(
            F.col("_b.doc_id").alias("doc_id"),
            F.col("_b.score").alias("score"),
            "cluster_id",
        )
    )
    return best.orderBy(F.desc("score"), F.desc("doc_id")).limit(k)
