"""Fielded (BM25F) indexing + ranking — multi-field documents scored
with per-field weights, the web-ranking move the reference's single-
field scorer (/root/reference/ranked_strategy.py) has no analogue for:
a query term in the TITLE (or anchor text) says more than the same
term in the body.

This is the standard simple-BM25F (Zaragoza et al., CIKM 2004 "Simple
BM25 extension to multiple weighted fields"): fold the fields into
weighted pseudo-frequencies FIRST, then score with plain BM25 —
NOT a per-field BM25 sum, whose per-field saturation is the known
failure mode that paper exists to correct:

    wtf(t,d)  = Σ_f  w_f · tf_{t,d,f}
    wdl(d)    = Σ_f  w_f · len_{d,f}
    score(d)  = Σ_t  wqt(t) · 2.2·wtf / (1.2·(0.25 + 0.75·wdl/avg_wdl) + wtf)

scored by the shared ranked scorer (queries/ranked.score) with the
reference's own BM25 constants and idf floor (wqt = max(0.1,
ln((N−dft+0.5)/(dft+0.5))), ranked_strategy.py BM25 — so single-field
weight-1 BM25F degenerates to the reference scorer exactly).

Build shape (scale notes): ONE pass over the corpus — each field's
token array becomes (term, w_f) structs, concatenated and exploded
row-locally, so the groupBy(doc_id, term) that sums w into wtf is the
only shuffle (doc-id pre-partitioned, same contract as
indexing/simple.py); wdl rides along pre-explode and survives the agg
as first(). dft and the corpus scalars are tiny aggregates of the
postings. Positions are deliberately absent: BM25F is a ranked-only
structure (phrase/NEAR stay on the positional single-field index).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..indexing.simple import token_array
from ..queries.ranked import empty_topk, query_rank_terms, score, top_k


@dataclass
class FieldedIndex:
    postings: DataFrame  # term, doc_id, wtf (double), wdl (double)
    corpus_stats: DataFrame  # n_docs, avg_wdl
    _scalars: tuple[int, float] | None = None

    def corpus_scalars(self) -> tuple[int, float]:
        if self._scalars is None:
            row = self.corpus_stats.collect()[0]
            self._scalars = (int(row["n_docs"]), float(row["avg_wdl"]))
        return self._scalars

    def cache(self) -> "FieldedIndex":
        self.postings.cache()
        return self


def build_fielded_index(
    docs: DataFrame,
    fields: dict[str, float],
    doc_id_col: str = "doc_id",
) -> FieldedIndex:
    """Build the BM25F index from one DataFrame whose columns are the
    fields (e.g. the (doc_id, title, text) frame from
    ops.html.extract_visible_text), ``fields`` mapping column → weight.
    """
    if not fields:
        raise ValueError("need at least one field")
    def _field(col_name):
        # NULL field values are empty fields, not document killers: an
        # un-coalesced NULL would propagate through concat() and the
        # wdl sum and silently drop the whole document from the index
        return F.coalesce(F.col(col_name), F.lit(""))

    def _tagged(col_name: str, w: float):
        # a 1-arg lambda is required: pyspark passes (element, index)
        # to 2-arg callables, so a default-arg weight capture would
        # receive the array index instead
        return F.transform(
            token_array(_field(col_name)),
            lambda t: F.struct(t.alias("term"),
                               F.lit(float(w)).alias("w")),
        )

    arrs = [_tagged(c, w) for c, w in fields.items()]
    wdl = None
    for c, w in fields.items():
        piece = F.lit(float(w)) * F.size(token_array(_field(c)))
        wdl = piece if wdl is None else wdl + piece
    base = docs.select(
        F.col(doc_id_col).cast("long").alias("doc_id"),
        F.concat(*arrs).alias("_tws"),
        wdl.cast("double").alias("wdl"),
    ).repartition("doc_id")
    tok = base.select(
        "doc_id", "wdl", F.explode("_tws").alias("_tw")
    ).select("doc_id", "wdl", F.col("_tw.term").alias("term"),
             F.col("_tw.w").alias("w"))
    postings = tok.groupBy("doc_id", "term").agg(
        F.sum("w").alias("wtf"), F.first("wdl").alias("wdl")
    )
    corpus = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("wdl").alias("avg_wdl"),
    )
    return FieldedIndex(postings=postings, corpus_stats=corpus)


def rank_topk_fielded(
    index: FieldedIndex,
    query: str,
    k: int = 10,
    normalize=None,
) -> DataFrame:
    """(doc_id, score) — BM25F top-k, ties doc_id desc: the shared
    ranked scorer (queries/ranked.score) over the fielded postings,
    with wtf as tftd and wdl as doc_length."""
    terms = query_rank_terms(query, normalize)
    if not terms:
        return empty_topk(index.postings.sparkSession)
    postings = index.postings.filter(F.col("term").isin(list(terms))).select(
        "term", "doc_id", F.col("wtf").alias("tftd"),
        F.col("wdl").alias("doc_length"))
    return top_k(score(postings, {"": terms}, index.corpus_scalars(), "bm25"), k)
