"""Ranked retrieval — the four reference scoring strategies
(/root/reference/ranked_strategy.py) as pure-JVM DataFrame pipelines.

Shape per strategy (strategy pattern, ranked_strategy.py:10-33):
query terms are deduped via set(query.split(' ')) BEFORE normalization
(ranked_strategy.py:62); each raw term maps through the rank-mode
TermLiteral rules (termliteral.py:36-42 — hyphenated terms collapse to
their LAST part); scores accumulate per doc; a per-doc normalizer
divides at the end; top-K uses heapq tuple order = (score desc, doc_id
desc) on ties (main.py:463-467), locked here via ORDER BY score DESC,
doc_id DESC LIMIT k -> Catalyst's TakeOrderedAndProject.

Every ranked entry point (in-memory index, published segments,
merge-on-read snapshots, BM25F, champion lists, WAND's exact pass) is a
thin call onto :func:`score` and :func:`top_k`.  Each of them is one
``spark.sql`` statement over its input frames, and the strategies'
wqt, wdt and normalizer are SQL text defined once here; code that needs
a Column wraps that text in ``F.expr``.

Scale notes: the postings scan is filtered to the handful of query
terms (file-pruned by term bucket when served from an index table,
pipeline/refresh.published_postings).  dft is a window count over
those postings partitioned by term, so all of one term's postings
meet in a single task (no partial aggregate; a caller-supplied dft
frame is joined by broadcast instead).  Corpus scalars are literals;
driver-known query weights are an inline (term, query_id, mult) table
with one row per query term, the build side of one broadcast hash join
(no Python-RDD frame).  The other wide shuffle is groupBy(query_id,
doc_id) over the matched postings, which is exactly the accumulator
the reference builds one doc at a time.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..indexing.build import SparkIndex, term_filter
from ..oracle.engine import term_for_rank_mode
from ..sqltext import sql_literal

STRATEGIES = ("default", "tfidf", "bm25", "wacky")

# Vocab-elimination thresholds (S7):
# vocab_elimination_main_precision_demo.py:142,171
PRUNE_THRESHOLDS = {"default": 1.1, "bm25": 0.4}

# BM25 constants (ranked_strategy.py:134-135) and the wqt floor
K1, B, IDF_FLOOR = 1.2, 0.75, 0.1

# per-doc columns the strategies read besides tftd
STAT_COLS = ("doc_length", "Ld", "byte_size", "avg_tftd")


def query_rank_terms(query: str, normalize=None) -> dict[str, int]:
    """raw query -> {index term: multiplicity}. Multiplicity >1 happens
    when two distinct raw terms normalize to the same index term — the
    reference then accumulates that term's postings twice.

    The EMPTY normalized term is kept: the reference's analyzer indexes
    '' for punctuation-only tokens (newtokenprocessor.py strips to
    nothing, main loop add_term's it anyway), and its query path looks
    '' up like any term — Cranfield queries end in " . \\n", so ''
    carries dft≈N and a real accumulator contribution under
    default/bm25 (under tfidf/wacky its wqt is exactly 0, which is why
    only two strategies expose the quirk). Simple-analyzer indexes
    contain no '' term, so keeping it is a no-op there.

    ``normalize`` defaults to the reference rank-mode rules
    (termliteral.py:36-42); pass ``simple.simple_query_term`` for
    simple-analyzer indexes."""
    normalize = normalize or term_for_rank_mode
    counts: Counter[str] = Counter()
    for raw in set(query.split(" ")):
        counts[normalize(raw)] += 1
    return dict(counts)


def query_batch_terms(queries: dict[str, str],
                      normalize=None) -> dict[str, dict[str, int]]:
    """{query_id: {term: multiplicity}} for a query log, dropping
    queries with no terms (they rank nothing)."""
    out = {qid: query_rank_terms(q, normalize) for qid, q in queries.items()}
    return {qid: terms for qid, terms in out.items() if terms}


def _wqt(strategy: str, n_docs: float, dft: str = "dft") -> str:
    """SQL text of a term's query-side weight, ``dft`` being the SQL
    text of its document frequency.  Spark's ln(x <= 0) is NULL and
    greatest() skips NULLs, so the bm25 floor also covers a metadata
    dft that overcounts live docs."""
    d, n = f"CAST({dft} AS DOUBLE)", sql_literal(float(n_docs))
    if strategy == "default":
        return f"ln(1.0D + {n} / {d})"
    if strategy == "tfidf":
        return f"ln({n} / {d})"
    if strategy == "bm25":
        return (f"greatest({sql_literal(IDF_FLOOR)}, "
                f"ln(({n} - {d} + 0.5D) / ({d} + 0.5D)))")
    if strategy == "wacky":
        # numpy ln(0) = -inf in the reference, so max(0, ln(0)) == 0
        return (f"CASE WHEN {n} > {d} THEN greatest(0.0D, ln(({n} - {d}) "
                f"/ {d})) ELSE 0.0D END")
    raise ValueError(strategy)


def _wdt(strategy: str, avg_doc_length: float, tftd: str = "tftd",
         doc_length: str = "doc_length") -> str:
    """SQL text of a posting's doc-side weight.  BM25 is
    (k1+1)·tftd / (k1·(1−b + b·dl/avgdl) + tftd) with the exact
    reference constants (ranked_strategy.py:134-135: 1.2·(0.25+0.75·…))."""
    t = f"CAST({tftd} AS DOUBLE)"
    if strategy == "default":
        return f"1.0D + ln({t})"
    if strategy == "tfidf":
        return t
    if strategy == "bm25":
        k1p1, k1, one_b, b, avg = map(
            sql_literal, (K1 + 1.0, K1, 1.0 - B, B, float(avg_doc_length)))
        return (f"{k1p1} * {t} / ({k1} * ({one_b} + {b} * {doc_length} / "
                f"{avg}) + {t})")
    if strategy == "wacky":
        return (f"CASE WHEN avg_tftd > 0 THEN (1.0D + ln({t})) / "
                "(1.0D + ln(avg_tftd)) ELSE 0.0D END")
    raise ValueError(strategy)


def _normalizer(strategy: str) -> str:
    """SQL text of the per-doc divisor of a strategy's score."""
    if strategy == "bm25":
        return "1.0D"
    if strategy == "wacky":
        return "sqrt(byte_size)"
    return "Ld"


def bm25_wdt_expr(tftd: str, doc_length: str, avg_dl: float) -> Column:
    """The BM25 wdt over SQL expressions ``tftd`` and ``doc_length``.
    WAND's block bounds plug in (max_tftd, min_doc_length)."""
    return F.expr(_wdt("bm25", avg_dl, tftd, doc_length))


def _weights_sql(weights: dict[str, dict[str, int]] | DataFrame,
                 frames: dict[str, DataFrame]) -> str:
    """The fan-out side of :func:`score`: FROM-clause text of a
    (_wterm, query_id, mult) relation, one row per (query, term).
    Driver-known weights are an inline table parsed with the statement
    (no Python-RDD frame); a weights DataFrame is added to ``frames``
    under query_id ''.  Either way it is the build side of ONE
    broadcast hash join on term, so each posting meets the queries
    that mention its term in one hash probe, however many terms the
    batch holds."""
    if isinstance(weights, DataFrame):
        frames["weights"] = weights
        mult = "mult" if "mult" in weights.columns else "1"
        return ("(SELECT term AS _wterm, '' AS query_id, "
                f"CAST({mult} AS DOUBLE) AS mult FROM {{weights}})")
    rows = ", ".join(
        f"({sql_literal(t)}, {sql_literal(qid)}, {sql_literal(float(m))})"
        for qid, terms in sorted(weights.items())
        for t, m in sorted(terms.items()))
    return f"(SELECT * FROM VALUES {rows} AS v(_wterm, query_id, mult))"


def score(
    postings: DataFrame,
    weights: dict[str, dict[str, int]] | DataFrame,
    scalars: tuple[float, float],
    strategy: str = "bm25",
    dft: DataFrame | None = None,
    prune: bool = False,
) -> DataFrame:
    """The one ranked accumulator: DataFrame(query_id, doc_id, score).

    ``postings`` is term-pruned and carries the per-doc columns
    ``strategy`` reads. ``weights`` is ``{query_id: {term: mult}}`` or
    a (term[, mult]) DataFrame (an expansion too large to collect).
    ``scalars`` is (n_docs, avg_doc_length). ``dft`` is None (count the
    given postings) or a (term, dft) frame, joined by broadcast.
    ``prune`` drops terms under the S7 wqt threshold.

    With ``dft=None`` the count is ``count(*) OVER (PARTITION BY term)``
    in the same pass over the postings: no separate aggregate and no
    join back.  The window sends all of one term's postings to a single
    task, with no partial aggregate — bounded by the query terms'
    posting lists, but a head term's whole list lands on one task.

    The plan is ONE ``spark.sql`` statement: built from Column calls it
    costs a py4j round trip per expression node.
    """
    n_docs, avg_dl = scalars
    frames = {"postings": postings}
    if dft is None:
        counted = ("SELECT *, count(*) OVER (PARTITION BY term) AS dft "
                   "FROM {postings}")
    else:
        frames["dft"] = dft
        counted = ("SELECT /*+ BROADCAST(d) */ p.*, d.dft FROM {postings} p "
                   "JOIN {dft} d ON p.term = d.term")
    threshold = PRUNE_THRESHOLDS.get(strategy)
    where = (f" WHERE wqt >= {sql_literal(threshold)}"
             if prune and threshold is not None else "")
    # the normalizer inputs are functionally dependent on doc_id, so
    # they ride through the agg as first()
    return postings.sparkSession.sql(
        "SELECT /*+ BROADCAST(w) */ query_id, doc_id, "
        f"sum(({_wdt(strategy, avg_dl)}) * wqt * mult) / "
        f"first({_normalizer(strategy)}) AS score "
        f"FROM (SELECT *, {_wqt(strategy, n_docs)} AS wqt FROM ({counted})) c "
        f"JOIN {_weights_sql(weights, frames)} w ON c.term = w._wterm"
        f"{where} GROUP BY query_id, doc_id", **frames)


def count_dft(postings: DataFrame) -> DataFrame:
    """(term, dft) counted over a postings frame."""
    return postings.sparkSession.sql(
        "SELECT term, count(*) AS dft FROM {postings} GROUP BY term",
        postings=postings)


def top_k(scored: DataFrame, k: int, per_query: bool = False) -> DataFrame:
    """Reference tie-break (score desc, doc_id desc). One query:
    (doc_id, score) via ORDER BY + LIMIT (TakeOrderedAndProject). Many:
    (query_id, doc_id, score, rank) with row_number() ≤ k per query_id
    (WindowGroupLimit — a partial top-k before the exchange)."""
    order = "score DESC, doc_id DESC"
    if not per_query:
        return scored.sparkSession.sql(
            f"SELECT doc_id, score FROM {{scored}} ORDER BY {order} "
            f"LIMIT {int(k)}", scored=scored)
    return scored.sparkSession.sql(
        "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY "
        f"query_id ORDER BY {order}) AS `rank` FROM {{scored}}) "
        f"WHERE `rank` <= {int(k)}", scored=scored)


def empty_topk(spark, per_query: bool = False) -> DataFrame:
    """The zero-row result of :func:`top_k` (a query with no terms)."""
    return spark.createDataFrame(
        [], "query_id string, doc_id long, score double, rank int"
        if per_query else "doc_id long, score double")


def _score_index(index: SparkIndex, weights: dict, strategy: str,
                 prune: bool = False) -> DataFrame:
    terms = sorted({t for ts in weights.values() for t in ts})
    postings = term_filter(index.postings, terms)
    return score(postings, weights, index.corpus_scalars(), strategy,
                 prune=prune)


def rank_scores(
    index: SparkIndex,
    query: str,
    strategy: str = "bm25",
    prune: bool = False,
    normalize=None,
) -> DataFrame:
    """Full scored frame DataFrame(doc_id, score) over every matching
    doc — the accumulator table before top-k selection. Callers that
    re-rank with a second signal (e.g. the PageRank blend in
    queries/webrank.py) must consume this, not the top-k: a
    query-independent prior can promote a doc from outside any fixed-k
    prefix."""
    terms = query_rank_terms(query, normalize)
    if not terms:
        return empty_topk(index.postings.sparkSession)
    return _score_index(index, {"": terms}, strategy, prune).select(
        "doc_id", "score")


def rank_scores_terms(
    index: SparkIndex,
    terms_df: DataFrame,
    strategy: str = "bm25",
    prune: bool = False,
) -> DataFrame:
    """rank_scores over a (term, mult) DataFrame instead of a parsed
    query string — the shape an EXPANDED term set arrives in (wildcard
    expansion can be thousands of terms at web vocabulary; collecting
    them to literals would put the expansion on the driver). The
    postings scan prunes by broadcast semi-join."""
    matched = index.postings.join(
        F.broadcast(terms_df.select("term")), "term", "left_semi")
    return score(matched, terms_df, index.corpus_scalars(), strategy,
                 prune=prune).select("doc_id", "score")


def rank_topk(
    index: SparkIndex,
    query: str,
    strategy: str = "bm25",
    k: int = 10,
    prune: bool = False,
    normalize=None,
) -> DataFrame:
    """Return DataFrame(doc_id, score) — top-k, ties broken doc_id desc.

    ``prune=True`` applies the vocab-elimination wqt threshold (S7)
    before touching postings — the scalar degenerate case of WAND.
    """
    return top_k(rank_scores(index, query, strategy, prune, normalize), k)


def champion_lists(index: SparkIndex, r: int = 64, salt: int = 16,
                   strategy: str = "bm25") -> DataFrame:
    """Per-term CHAMPION LIST (impact-ordered prefix): the ``r`` docs
    with the highest per-term IMPACT — wdt(strategy)/normalizer, the
    exact single-term score up to the query-side wqt constant, all
    computable at index time from the denormalized posting columns.
    A static pruning structure from the public IR literature (champion
    lists / top-docs, Manning IIR §7.1.3): approximate ranked retrieval
    scores only champion docs, so query cost is bounded by r·|query|
    regardless of posting-list length — the static complement of WAND's
    dynamic block-max pruning. (Raw tftd is NOT a usable impact proxy
    under BM25's length normalization: on short-doc corpora tftd ties
    make the prefix arbitrary and recall collapses — measured 0.3 vs
    1.0 with true-impact ordering at r=64, k=10.)

    Impact is quantized to e6 for the ordering (ties → tftd desc,
    doc_id desc) so the champion SET is identical across engines and
    partitionings — raw float ordering would flip ulp-close pairs
    between this build and the SQL oracle.

    Skew shape: a naive per-term window would sort a head term's ENTIRE
    posting list in one task (10^11 rows for "the" at the design
    point). Two-stage instead: top-r per (term, doc_id%salt) — each
    head term split across ``salt`` independent tasks — then top-r of
    the ≤ salt·r survivors per term. Identical result (global top-r is
    contained in the union of per-salt top-rs), reducer fan-in bounded
    by salt·r rows regardless of df."""
    _, avg_dl = index.corpus_scalars()
    base = index.postings.select("term", "doc_id", "tftd", *STAT_COLS)
    base = base.withColumn("_impact_e6", F.expr(
        f"CAST(floor(({_wdt(strategy, avg_dl)}) / "
        f"{_normalizer(strategy)} * 1000000.0D) AS BIGINT)"))
    order = [F.desc("_impact_e6"), F.desc("tftd"), F.desc("doc_id")]
    w1 = Window.partitionBy("term", "_salt").orderBy(*order)
    part = (
        base.withColumn("_salt", F.pmod(F.col("doc_id"), F.lit(salt)))
        .withColumn("_rr", F.row_number().over(w1))
        .filter(F.col("_rr") <= r)
        .drop("_rr")
    )
    w2 = Window.partitionBy("term").orderBy(*order)
    return (
        part.withColumn("_rr", F.row_number().over(w2))
        .filter(F.col("_rr") <= r)
        .drop("_rr", "_salt", "_impact_e6")
    )


def rank_topk_champions(
    index: SparkIndex,
    champions: DataFrame,
    query: str,
    strategy: str = "bm25",
    k: int = 10,
    normalize=None,
) -> DataFrame:
    """Approximate top-k over a :func:`champion_lists` frame.

    Champion lists approximate the CANDIDATE SET, never the scoring:
    candidates are every doc that is a champion of at least one query
    term; those candidates are then scored EXACTLY — full matched
    postings (so a candidate championed by one term still accumulates
    its other query terms' contributions) and TRUE document
    frequencies from the full index. Scoring only the champion rows
    would systematically underestimate multi-term docs (measured
    recall@10 collapse 1.0 → 0.2 on the gate corpus).

    Scale shape: the candidate set is ≤ r·|query| doc_ids — a
    broadcast semi-join against the term-pruned postings scan — so the
    scored volume is bounded regardless of posting-list length.
    Returns (doc_id, score); recall vs exact top-k is pytest-asserted.
    """
    terms = query_rank_terms(query, normalize)
    if not terms:
        return empty_topk(index.postings.sparkSession)
    cand_docs = (
        champions.filter(F.col("term").isin(list(terms)))
        .select("doc_id").distinct()
    )
    matched = term_filter(index.postings, list(terms))
    scored = score(
        matched.join(F.broadcast(cand_docs), "doc_id", "left_semi"),
        {"": terms}, index.corpus_scalars(), strategy, dft=count_dft(matched))
    return top_k(scored, k)


def rank_topk_batch(
    index: SparkIndex,
    queries: dict[str, str],
    strategy: str = "bm25",
    k: int = 10,
    normalize=None,
) -> DataFrame:
    """Batch ranked retrieval: ALL queries in ONE plan.

    Returns DataFrame(query_id, doc_id, score, rank) with rank 1..k per
    query (reference tie-break per query). Per-query results are
    identical to :func:`rank_topk` — dft/wqt are per-term properties,
    independent of which query mentions the term.

    Scale shape: one postings scan filtered to the UNION of all query
    terms (partition-pruned), the (term, query_id, mult) fan-out as an
    inline table broadcast-joined on term — postings fan out to the
    queries sharing each term — one partial-agg shuffle on (query_id,
    doc_id), then a per-query window top-k (parallel across queries; no
    global sort). This is the evaluation-harness path: 225 Cranfield
    queries cost one plan, not 225 (tools/cranfield_eval.py), and at
    warehouse scale it is how a query log replays against the index.
    """
    weights = query_batch_terms(queries, normalize)
    if not weights:
        return empty_topk(index.postings.sparkSession, per_query=True)
    return top_k(_score_index(index, weights, strategy), k, per_query=True)
