"""Block-max WAND top-k over block-split segments — the scale path for
BM25 ranked retrieval (north rule: "BM25 top-k scoring with block-max
WAND posting-list intersection as a DataFrame pipeline").

The reference's only pruning is the scalar vocab-elimination wqt
threshold (/root/reference/vocab_elimination_main_precision_demo.py:142,171);
block-max WAND generalizes it to per-block score upper bounds
(Broder et al. CIKM'03; Ding & Suel SIGIR'11 — see PAPERS.md).

Safe two-phase logic, compiled into ONE main DataFrame action plus a
single ≤|terms|-row metadata collect (the per-term dft lookup — the
Spark analogue of the reference's SQLite vocabulary seek); champion
selection and θ are dataflow, θ riding along as a broadcast 1-row
aggregate:

1. **Upper bounds** (metadata only — no posting decode): for each
   (term, block) of the query's terms, ``ub = wqt · wdt_max`` where
   ``wdt_max`` plugs the block's ``max_tftd`` and ``min_doc_length``
   into the BM25 wdt (wdt is increasing in tftd, decreasing in
   doc_length). Block totals ``UB(block) = Σ_terms ub`` overestimate
   every doc's score in that block.
2. **Champion blocks**: top ``champion_blocks`` blocks by UB
   (TakeOrderedAndProject — no global sort), greedily trimmed by a
   running doc-count window (tiny: ≤ champion_blocks rows) to the
   prefix covering ≥ k docs.
3. **θ**: decode ONLY champion blocks, score exactly, take the k-th
   best exact score (−∞ when champions cover < k docs) — a 1-row
   aggregate, broadcast.
4. **Pruned pass**: decode + score ONLY blocks with ``UB ≥ θ``; blocks
   below θ cannot contain a top-k doc (their every doc scores < θ ≤
   current k-th). Final top-k over the survivors.

The pruned pass re-scores champion blocks too — idempotent, and keeps
the plan a single decode→score pipeline. Exactness is asserted against
the unpruned ``rank_topk`` in tests and the driver's SQL oracle
(``wand_bm25`` shares ``rank_bm25``'s SQL verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..indexing.build import term_filter
from ..indexing.segments import decode_postings
from ..sources.snapshots import drop_deleted
from ..sqltext import sql_map
from .ranked import (
    _wqt,
    bm25_wdt_expr,
    empty_topk,
    query_rank_terms,
    score,
    top_k,
)


def block_dft(seg: DataFrame) -> DataFrame:
    """(term, dft) summed from segment block metadata — no decode."""
    return seg.groupBy("term").agg(F.sum("df_block").alias("dft"))


def wand_topk(
    scalars: tuple[float, float],
    segments: DataFrame,
    query: str,
    k: int = 10,
    normalize=None,
    champion_blocks: int = 8,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k via block-max WAND — one main DataFrame action plus
    a tiny per-term dft metadata collect, zero caches. ``scalars`` is
    the corpus ``(n_docs, avg_doc_length)`` (``SparkIndex.corpus_scalars()``);
    ``segments`` is the block-split segment table (doc_lengths ride inside
    the segments — no doc_stats join). Returns DataFrame(doc_id, score)
    with the reference tie-break (score desc, doc_id desc —
    main.py:463-467).

    ``deletes`` — merge-on-read serving from a refreshed snapshot
    (pipeline/refresh.py): the snapshot's delta-sized (doc_id, _seq)
    ``delete_rows`` frame, one row per delete commit of a doc;
    ``segments`` must then carry the snapshot layer's ``_seq`` column.
    Superseded postings (a delete of the doc with a greater seq than
    the row's) are dropped at decode time by the snapshot layer's
    ``drop_deleted``, so results never contain a stale document
    version.
    Like Lucene serving an unmerged index with liveDocs, the METADATA
    side (dft→wqt, block maxima) still counts superseded postings
    until a rewrite: bounds stay safe upper bounds and θ is exact over
    live docs (pruning exactness holds w.r.t. this wqt), but absolute
    scores drift from a from-scratch rebuild until
    ``rewrite_pages_index`` — the documented Lucene/Iceberg contract.
    ``refreshed_topk`` is the exact-scores serving path."""
    spark = segments.sparkSession
    terms = query_rank_terms(query, normalize)
    if not terms:
        return empty_topk(spark)
    n_docs, avg_dl = scalars

    seq_cols = ["_seq"] if deletes is not None else []
    if deletes is not None and "_seq" not in segments.columns:
        raise ValueError(
            "deletes requires segments read with with_seq=True so the "
            "sequence-number delete rule can apply post-decode")
    seg = term_filter(segments, list(terms)).select(
        "term", "block", "df_block", "max_tftd", "min_doc_length",
        "doc_ids", "tftds", "doc_lengths", *seq_cols,
    )

    # term-level dft from block metadata — a ≤|terms|-row aggregate,
    # collected once (the Spark analogue of the reference's SQLite
    # vocabulary seek). Keeping it a driver literal keeps the main
    # query plan shallow: otherwise the dft subtree is recomputed
    # inside all three consumers (block UBs, champion scores, survivor
    # scores) within the single action.
    dft = {r["term"]: r["dft"] for r in block_dft(seg).collect()}
    if not dft:
        return empty_topk(spark)
    dft_map = sql_map(dft)
    wqt = F.expr(_wqt("bm25", n_docs, f"{dft_map}[term]"))
    mult = F.expr(f"{sql_map({t: float(m) for t, m in terms.items()})}[term]")
    # the same literal as a (term, dft) frame for the exact scorer — a
    # one-row range exploded, so no Python-RDD scan
    dft_df = spark.range(1).select(
        F.explode(F.expr(dft_map)).alias("term", "dft"))

    # 1. per-block upper bounds from metadata only
    block_ub = (
        seg.withColumn(
            "ub_t",
            bm25_wdt_expr("max_tftd", "min_doc_length", avg_dl)
            * wqt * mult,
        )
        .groupBy("block")
        .agg(F.sum("ub_t").alias("ub"), F.sum("df_block").alias("docs_in_block"))
    )

    # 2. champion prefix: top-C blocks by UB (per-partition heaps), then
    # keep the UB-desc prefix whose cumulative doc count first reaches k
    # (window over ≤C rows — single tiny partition by construction)
    topc = block_ub.orderBy(F.desc("ub")).limit(max(champion_blocks, 1))
    # Global (partition-less) window — DELIBERATE, not a scale bug:
    # its input is the limit(C) above, so it sees at most
    # ``champion_blocks`` rows (single digits) regardless of corpus
    # size. Spark still logs a WindowExec single-partition warning
    # because the bound isn't visible to the planner; a literal
    # partition key would silence it but obscure that the prefix scan
    # is ordered across ALL champion blocks by construction.
    w = Window.orderBy(F.desc("ub"), F.asc("block")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    champs = (
        topc.withColumn("cum_docs", F.sum("docs_in_block").over(w))
        .filter(F.col("cum_docs") - F.col("docs_in_block") < k)
        .select("block")
    )

    def exact_scores(seg_subset: DataFrame) -> DataFrame:
        # doc_length decodes from the segment itself (doc_lengths):
        # NO doc_stats join — at 10^12 docs that join would shuffle a
        # corpus-sized table per query.
        postings = decode_postings(seg_subset, list(terms),
                                   with_positions=False,
                                   passthrough=tuple(seq_cols))
        if deletes is not None:
            postings = drop_deleted(postings, deletes).drop("_seq")
        return score(postings, {"": terms}, scalars, "bm25", dft=dft_df)

    # 3. θ = k-th best exact score among champion docs, −∞ when the
    # champions cover < k docs — a 1-row aggregate, broadcast into the
    # pruning filter instead of collected to the driver
    champ_scores = exact_scores(seg.join(F.broadcast(champs), "block"))
    theta_df = (
        champ_scores.orderBy(F.desc("score"), F.desc("doc_id"))
        .limit(k)
        .agg(
            F.when(F.count("*") >= k, F.min("score"))
            .otherwise(F.lit(float("-inf")))
            .alias("theta")
        )
    )

    # 4. prune blocks whose UB < θ, score survivors exactly
    keep_blocks = (
        block_ub.join(F.broadcast(theta_df))
        .filter(F.col("ub") >= F.col("theta"))
        .select("block")
    )
    survivors = seg.join(F.broadcast(keep_blocks), "block")
    return top_k(exact_scores(survivors), k)


def decode_topk(
    scalars: tuple[float, float],
    segments: DataFrame,
    query: str,
    k: int = 10,
    normalize=None,
) -> DataFrame:
    """BM25 top-k by decoding the query terms' full posting blocks —
    the non-pruned baseline ``wand_topk`` must beat at decode-bound
    scale, and the better serving path when the matched posting lists
    are short (WAND's metadata pass then costs more than it saves).
    Same tie-break and scoring as wand_topk; identical results by
    construction (asserted per-trial by the crossover bench)."""
    terms = query_rank_terms(query, normalize)
    if not terms:
        return empty_topk(segments.sparkSession)
    seg = term_filter(segments, list(terms))
    postings = decode_postings(seg, list(terms), with_positions=False)
    return top_k(score(postings, {"": terms}, scalars, "bm25",
                       dft=block_dft(seg)), k)
