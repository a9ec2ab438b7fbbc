"""Ranked retrieval — the four reference scoring strategies
(/root/reference/ranked_strategy.py) as pure-JVM DataFrame pipelines.

Shape per strategy (strategy pattern, ranked_strategy.py:10-33):
query terms are deduped via set(query.split(' ')) BEFORE normalization
(ranked_strategy.py:62); each raw term maps through the rank-mode
TermLiteral rules (termliteral.py:36-42 — hyphenated terms collapse to
their LAST part); scores accumulate per doc; a per-doc normalizer
divides at the end; top-K uses heapq tuple order = (score desc, doc_id
desc) on ties (main.py:463-467), locked here via orderBy(desc(score),
desc(doc_id)).limit(k) -> Catalyst's TakeOrderedAndProject.

Every ranked entry point (in-memory index, published segments,
merge-on-read snapshots, BM25F, champion lists, WAND's exact pass) is a
thin call onto :func:`score` and :func:`top_k`.

Scale notes: the postings scan is filtered to the handful of query
terms (file-pruned by term bucket when served from an index table,
pipeline/refresh.published_postings); dft
counts are a tiny aggregate joined back by broadcast; corpus scalars
and driver-known query weights are literals (no join, no Python-RDD
frame); the only wide shuffle is groupBy(query_id, doc_id) over the
matched postings, which is exactly the accumulator the reference
builds one doc at a time.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..indexing.build import SparkIndex, term_filter
from ..oracle.engine import term_for_rank_mode

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


def _wqt(strategy: str, n_docs: int, dft: Column | None = None):
    # Spark's log(x <= 0) is NULL and greatest() skips NULLs, so the
    # bm25 floor also covers a metadata dft that overcounts live docs
    dft = (F.col("dft") if dft is None else dft).cast("double")
    n = F.lit(float(n_docs))
    if strategy == "default":
        return F.log(F.lit(1.0) + n / dft)
    if strategy == "tfidf":
        return F.log(n / dft)
    if strategy == "bm25":
        return F.greatest(F.lit(IDF_FLOOR), F.log((n - dft + 0.5) / (dft + 0.5)))
    if strategy == "wacky":
        # numpy ln(0) = -inf in the reference, so max(0, ln(0)) == 0
        return F.when(n > dft, F.greatest(F.lit(0.0), F.log((n - dft) / dft))).otherwise(0.0)
    raise ValueError(strategy)


def bm25_wdt_expr(tftd: Column, doc_length: Column, avg_dl: float) -> Column:
    """(k1+1)·tftd / (k1·(1−b + b·dl/avgdl) + tftd) — the exact
    reference constants (ranked_strategy.py:134-135: 1.2·(0.25+0.75·…)).
    WAND's block bounds plug in (max_tftd, min_doc_length)."""
    tftd = tftd.cast("double")
    denom = K1 * ((1.0 - B) + B * doc_length / F.lit(avg_dl)) + tftd
    return (K1 + 1.0) * tftd / denom


def _wdt(strategy: str, avg_doc_length: float):
    tftd = F.col("tftd").cast("double")
    if strategy == "default":
        return F.lit(1.0) + F.log(tftd)
    if strategy == "tfidf":
        return tftd
    if strategy == "bm25":
        return bm25_wdt_expr(tftd, F.col("doc_length"), avg_doc_length)
    if strategy == "wacky":
        return F.when(
            F.col("avg_tftd") > 0,
            (F.lit(1.0) + F.log(tftd)) / (F.lit(1.0) + F.log("avg_tftd")),
        ).otherwise(0.0)
    raise ValueError(strategy)


def _normalizer(strategy: str):
    if strategy == "bm25":
        return F.lit(1.0)
    if strategy == "wacky":
        return F.sqrt(F.col("byte_size"))
    return F.col("Ld")


def _sql(v: str | int | float) -> str:
    """Spark SQL literal text for a string or number. The string escape
    assumes the default ``spark.sql.parser.escapedStringLiterals=false``."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"{v!r}D" if isinstance(v, float) else f"{int(v)}L"


def _literal_map(d: dict[str, int | float]) -> Column:
    """A driver-side {str: number} dict as ONE map literal parsed from
    SQL text: building it from F.lit calls costs a py4j round-trip per
    element — seconds for a replayed query log."""
    return F.expr("map(" + ", ".join(
        f"{_sql(k)}, {_sql(v)}" for k, v in sorted(d.items())) + ")")


def _fan_out(frame: DataFrame,
             weights: dict[str, dict[str, int]] | DataFrame) -> DataFrame:
    """``frame`` × the queries that mention each of its terms: adds
    (query_id, mult). Driver-known weights are one literal map
    term → array<struct<query_id, mult>>, inlined (no join); a weights
    DataFrame is joined by broadcast under query_id ""."""
    if isinstance(weights, DataFrame):
        mult = F.col("mult") if "mult" in weights.columns else F.lit(1.0)
        w = weights.select("term", mult.cast("double").alias("mult"))
        return frame.join(F.broadcast(w), "term").withColumn("query_id", F.lit(""))
    by_term: dict[str, list[str]] = {}
    for qid, terms in weights.items():
        for t, m in terms.items():
            by_term.setdefault(t, []).append(
                f"named_struct('query_id', {_sql(qid)}, 'mult', {_sql(float(m))})")
    qmap = F.expr("map(" + ", ".join(
        f"{_sql(t)}, array({', '.join(qs)})"
        for t, qs in sorted(by_term.items())) + ")")
    return frame.select("*", F.inline(qmap[F.col("term")]))


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
    given postings) or a (term, dft) frame.
    ``prune`` drops terms under the S7 wqt threshold.
    """
    n_docs, avg_dl = scalars
    if dft is None:
        dft = count_dft(postings)
    wq = dft.select("term", _wqt(strategy, n_docs).alias("wqt"))
    threshold = PRUNE_THRESHOLDS.get(strategy)
    if prune and threshold is not None:
        wq = wq.filter(F.col("wqt") >= threshold)
    # the fan-out runs on the ≤|terms|-row weight side, so each posting
    # meets its queries in the one broadcast hash join
    scored = postings.join(F.broadcast(_fan_out(wq, weights)), "term")
    contrib = _wdt(strategy, avg_dl) * F.col("wqt") * F.col("mult")
    # the normalizer inputs are functionally dependent on doc_id, so
    # they ride through the agg as first()
    return scored.groupBy("query_id", "doc_id").agg(
        (F.sum(contrib) / F.first(_normalizer(strategy))).alias("score"))


def count_dft(postings: DataFrame) -> DataFrame:
    """(term, dft) counted over a postings frame."""
    return postings.groupBy("term").agg(F.count("*").alias("dft"))


def top_k(scored: DataFrame, k: int, per_query: bool = False) -> DataFrame:
    """Reference tie-break (score desc, doc_id desc). One query:
    (doc_id, score) via orderBy+limit (TakeOrderedAndProject). Many:
    (query_id, doc_id, score, rank) with row_number() ≤ k per query_id
    (WindowGroupLimit — a partial top-k before the exchange)."""
    order = (F.desc("score"), F.desc("doc_id"))
    if not per_query:
        return scored.select("doc_id", "score").orderBy(*order).limit(k)
    w = Window.partitionBy("query_id").orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


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
    impact = _wdt(strategy, avg_dl) / _normalizer(strategy)
    base = base.withColumn(
        "_impact_e6", F.floor(impact * F.lit(1e6)).cast("long")
    )
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
    terms (partition-pruned), the (query_id, mult) fan-out inlined as a
    literal map — postings fan out to the queries sharing each term —
    one partial-agg shuffle on (query_id, doc_id), then a per-query
    window top-k (parallel across queries; no global sort). This is the
    evaluation-harness path: 225 Cranfield queries cost one plan, not
    225 (tools/cranfield_eval.py), and at warehouse scale it is how a
    query log replays against the index.
    """
    weights = query_batch_terms(queries, normalize)
    if not weights:
        return empty_topk(index.postings.sparkSession, per_query=True)
    return top_k(_score_index(index, weights, strategy), k, per_query=True)
