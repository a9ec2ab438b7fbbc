"""Serve the reference's query surface from a published index
snapshot: ``boolean_from_published`` answers boolean/phrase/NEAR
queries, ``ranked_batch_from_published`` replays a BM25 query batch.
(Single ranked queries over the same table go through
queries/wand.wand_topk / decode_topk; scripts/submit_query_job.py wires
those.)

The reference's disk-index driver answers boolean AND/OR/NOT, phrase
(with the two-term biword fast path, /root/reference/main.py:413-418)
and NEAR/k queries from its written index. ``boolean_from_published``
answers the same grammar from a ``publish_segments`` snapshot:

* parse the query ONCE driver-side to collect the normalized lookup
  terms (plus the biword key when the whole query is a two-term
  phrase — the only case the reference routes to the biword index),
* plan a bucket-pruned file read from the snapshot manifest
  (``read_published_segments``) — at 10^12 docs a 3-term boolean query
  opens 3 buckets' worth of data files, not the table,
* decode ONLY those terms' postings (positions included — phrase/NEAR
  need them) and hand the decoded frame to the SAME compiled engine
  (queries/engine.boolean_query), so served results are definitionally
  the in-memory engine's results, quirks and all.

Biword rows live in the same table under their space-containing keys
(pipeline/index_pipeline.publish_segments(biword=...)); the ``biword``
table property tells the reader whether the fast path is available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..indexing.build import SparkIndex, term_filter
from ..indexing.segments import decode_postings
from .engine import boolean_query, boolean_query_term
from .parser import Node, parse_boolean_query
from .ranked import empty_topk, query_batch_terms, score, top_k
from .wand import block_dft


def lookup_terms(node: Node, normalize) -> set[str]:
    """Every normalized index term a query's evaluation will look up."""
    if node.kind == "term":
        return {normalize(node.term)}
    if node.kind == "phrase":
        return {normalize(w) for w in node.term.split(" ")}
    out: set[str] = set()
    for child in node.children:
        out |= lookup_terms(child, normalize)
    return out


def boolean_from_published(
    spark: SparkSession,
    table_root: str,
    query: str,
    version: int | None = None,
    tag: str | None = None,
    normalize=None,
) -> DataFrame:
    """Answer a boolean/phrase/NEAR query from a published snapshot;
    returns DataFrame(doc_id) in the canonical sorted order, identical
    to ``boolean_query`` over the index the snapshot was built from.

    Two-term-phrase queries require the snapshot to carry the biword
    family (``publish_segments(biword=index.biword, ...)``): the fast
    path is a different index lookup with its own semantics (clean
    adjacency, vs the positional merge's reference quirks), so silently
    substituting one for the other would change results. A snapshot
    without it raises with the republish instruction.
    """
    from ..pipeline.index_pipeline import read_published_segments
    from ..sources.snapshots import SnapshotTable

    normalize = normalize or boolean_query_term
    node = parse_boolean_query(query)
    if node is None:
        return spark.createDataFrame([], "doc_id long")

    props = SnapshotTable(table_root).properties(
        version if tag is None else SnapshotTable(table_root).tags()[tag])
    term_buckets = props.get("term_buckets")

    terms = lookup_terms(node, normalize)
    if node.kind == "phrase" and len(node.term.split(" ")) == 2:
        if not props.get("biword"):
            raise KeyError(
                "two-term phrase queries use the biword fast path, but "
                "this snapshot was published without the biword family — "
                "republish with publish_segments(..., biword=index.biword)")
        t1, t2 = node.term.split(" ")
        # The fast path reads ONLY the biword key's postings.
        terms = {normalize(t1) + " " + normalize(t2)}

    seg = read_published_segments(spark, table_root, terms=sorted(terms),
                                  version=version, tag=tag)
    postings = decode_postings(seg, terms=sorted(terms),
                               term_buckets=term_buckets)
    idx = SparkIndex(
        postings=postings.filter(~F.col("term").contains(" ")),
        doc_stats=None,
        corpus_stats=None,
        biword=postings.filter(F.col("term").contains(" "))
        .select("term", "doc_id"),
        term_buckets=None,  # already decoded + term-filtered
    )
    return boolean_query(idx, query, normalize)


def ranked_batch_from_published(
    spark: SparkSession,
    table_root: str,
    queries: dict[str, str],
    k: int = 10,
    normalize=None,
    version: int | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Batch BM25 serving from a published snapshot — the query-log
    replay path (queries/ranked.rank_topk_batch) re-expressed over the
    snapshot table. Returns DataFrame(query_id, doc_id, score, rank),
    per-query identical to ``decode_topk``/``wand_topk`` over the same
    snapshot (same weights, same reference tie-break: score desc,
    doc_id desc — /root/reference/main.py:463-467).

    Scale shape (one action for the whole batch): ONE bucket-pruned
    manifest read and ONE positionless decode covering the UNION of
    every query's terms, per-term dft from segment block metadata
    (broadcast, never collected), then the shared scorer's inlined
    (query_id, mult) fan-out, one partial-agged (query_id, doc_id)
    shuffle and a per-query window top-k.
    """
    from ..pipeline.index_pipeline import (queryable_published,
                                           read_published_segments)
    from ..sources.snapshots import SnapshotTable

    if tag is not None:
        version = SnapshotTable(table_root).tags()[tag]
    scalars, term_buckets = queryable_published(spark, table_root, version)
    weights = query_batch_terms(queries, normalize)
    if not weights:
        return empty_topk(spark, per_query=True)
    terms = sorted({t for ts in weights.values() for t in ts})

    seg = term_filter(read_published_segments(
        spark, table_root, terms=terms, version=version), terms, term_buckets)
    postings = decode_postings(seg, terms, term_buckets=None,
                               with_positions=False)
    return top_k(score(postings, weights, scalars.corpus_scalars(), "bm25",
                       dft=block_dft(seg)), k, per_query=True)
