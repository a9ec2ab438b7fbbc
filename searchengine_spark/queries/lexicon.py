"""Vocabulary-level query operators: wildcard expansion via a k-gram
index and spelling correction via a SymSpell-style deletion-neighborhood
index.

The reference engine answers only exact term literals
(/root/reference/query/termliteral.py); real web search needs wildcard
terms and did-you-mean, both classic IR (Manning/IIR ch. 3). Both are
implemented as *vocabulary-sized* precomputed indexes + tiny per-query
joins, never per-query vocabulary scans:

* **k-gram index** (IIR 3.2.2): boundary-marked ``$term$`` character
  k-grams -> term. A wildcard ``mon*tion`` becomes the conjunction of
  its segments' k-grams; candidates are terms containing ALL query
  grams (join + count), then a regex post-filter removes k-gram false
  positives (IIR's "post-filtering step"). At a 10^9-term vocabulary
  the per-query work is |query grams| index lookups + a candidate-set
  regex, not a vocabulary scan.
* **deletion index** (SymSpell): every vocabulary term is indexed under
  its delete-0 and delete-1 variants. Two strings within Levenshtein
  distance 1 ALWAYS share a variant key (equal -> delete-0;
  substitution -> both delete the edited position; insert/delete ->
  the longer side's delete-1 equals the shorter), so joining the query
  term's variants against the index yields a complete distance<=1
  candidate set; an exact ``levenshtein() <= max_edit`` post-filter
  drops the key-collision false positives. Suggestion policy: closest
  edit distance first, then highest document frequency, then term
  (SymSpell's "top" verbosity).

Everything here is whole-stage-codegen JVM (sequence/transform/substring
higher-order expressions, ``F.levenshtein``) — no Python on executors.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ---------------------------------------------------------------------------
# k-gram index + wildcard expansion
# ---------------------------------------------------------------------------

BOUNDARY = "$"


def kgram_index(vocab: DataFrame, k: int = 3,
                term_col: str = "term") -> DataFrame:
    """(kgram, term) over the boundary-marked vocabulary.

    ``$term$`` sliding k-grams, distinct per term. Size is
    O(|vocab| * avg_term_len) rows — linear in the vocabulary, built
    once and reusable across every wildcard query (bucket it by kgram
    when persisting). Pure codegen: sequence + transform + substring.
    """
    grams = F.expr(
        f"transform(sequence(1, length(concat('{BOUNDARY}', {term_col}, "
        f"'{BOUNDARY}')) - {k - 1}, 1), "
        f"i -> substring(concat('{BOUNDARY}', {term_col}, '{BOUNDARY}'), i, {k}))"
    )
    return (
        vocab.select(F.col(term_col).alias("term"), F.explode(grams).alias("kgram"))
        .distinct()
        .select("kgram", "term")
    )


def _wildcard_grams(pattern: str, k: int = 3) -> list[str]:
    """Query k-grams of a wildcard pattern: boundary-mark, split on '*',
    keep every sliding k-gram of each segment. Segments shorter than k
    contribute nothing (the regex post-filter still enforces them)."""
    marked = BOUNDARY + pattern + BOUNDARY
    grams: list[str] = []
    for seg in marked.split("*"):
        grams.extend(seg[i:i + k] for i in range(len(seg) - k + 1))
    return grams


def wildcard_regex(pattern: str) -> str:
    """Anchored regex equivalent of the wildcard (SQL LIKE '%' ==
    ``.*``), with non-star characters escaped."""
    return "^" + ".*".join(re.escape(p) for p in pattern.split("*")) + "$"


def expand_wildcard(vocab: DataFrame, pattern: str, k: int = 3,
                    kgrams: DataFrame | None = None) -> DataFrame:
    """Vocabulary terms matching a ``*``-wildcard pattern, with their
    df — the term set a wildcard literal ORs over (IIR 3.2).

    Candidate generation goes through the k-gram index whenever the
    pattern yields at least one k-gram (join on the <=|pattern| query
    grams, keep terms matching ALL of them); patterns too short to
    produce a gram (e.g. ``a*``) fall back to a vocabulary regex scan —
    correct either way, the regex is always applied. Pass a persisted
    ``kgrams`` index to amortize it across queries.
    """
    grams = _wildcard_grams(pattern, k)
    rx = wildcard_regex(pattern)
    if grams:
        idx = kgrams if kgrams is not None else kgram_index(vocab, k)
        qg = vocab.sparkSession.createDataFrame(
            [(g,) for g in sorted(set(grams))], "kgram string"
        )
        cands = (
            idx.join(F.broadcast(qg), "kgram")
            .groupBy("term")
            .agg(F.countDistinct("kgram").alias("_hits"))
            .filter(F.col("_hits") == len(set(grams)))
            .select("term")
        )
        out = vocab.join(cands, "term")
    else:
        out = vocab
    return out.filter(F.col("term").rlike(rx)).select("term", "df")


def rank_topk_wildcard(index, vocab: DataFrame, pattern: str,
                       strategy: str = "bm25", k: int = 10,
                       kgrams: DataFrame | None = None) -> DataFrame:
    """Ranked retrieval over a wildcard literal: every expanded term
    joins the accumulator with weight 1 (per-term idf still applies, so
    rare completions contribute more than stopword-like ones). The
    expansion stays a DataFrame end to end — no driver collect, the
    postings scan prunes by broadcast semi-join
    (ranked.rank_scores_terms)."""
    from .ranked import rank_scores_terms, top_k

    terms_df = expand_wildcard(vocab, pattern, kgrams=kgrams).select("term")
    return top_k(rank_scores_terms(index, terms_df, strategy), k)


def wildcard_docs(postings: DataFrame, vocab: DataFrame, pattern: str,
                  k: int = 3, kgrams: DataFrame | None = None) -> DataFrame:
    """Distinct doc_ids matching a wildcard term literal — the OR over
    the expanded term set, as a postings join (the expansion can be
    thousands of terms at web vocabulary; a join prunes at the scan,
    an ``isin`` literal list would not)."""
    terms = expand_wildcard(vocab, pattern, k, kgrams).select("term")
    return (
        postings.join(F.broadcast(terms), "term")
        .select("doc_id")
        .distinct()
    )


def suggest_prefix(vocab: DataFrame, prefix: str, n: int = 5,
                   k: int = 3, kgrams: DataFrame | None = None) -> DataFrame:
    """(term, df) — the ``n`` highest-df vocabulary completions of a
    prefix (df desc, term asc): query autocomplete. Candidates route
    through the k-gram index exactly like ``prefix*`` (the boundary
    gram ``$pre`` anchors the lookup); at a 10^9-term vocabulary this
    is an index probe, not a scan — or a range scan on a term-sorted
    vocabulary table, which is how the segments layout stores it."""
    return (
        expand_wildcard(vocab, prefix + "*", k, kgrams)
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(n)
    )


# ---------------------------------------------------------------------------
# SymSpell deletion index + spelling correction
# ---------------------------------------------------------------------------

def _delete_variants_py(term: str) -> set[str]:
    """Python twin of the delete-0/1 generator (query side + tests)."""
    return {term} | {term[:i] + term[i + 1:] for i in range(len(term))}


def deletion_index(vocab: DataFrame, term_col: str = "term",
                   df_col: str = "df") -> DataFrame:
    """(key, term, df): every vocabulary term under its delete-0 and
    delete-1 variants. O(|vocab| * avg_term_len) rows, built once; the
    per-query probe is a key-equality join, which is what makes
    did-you-mean viable at a 10^9-term vocabulary (a levenshtein scan
    of the vocabulary per query is the thing this index exists to
    avoid)."""
    variants = F.array_union(
        F.array(F.col(term_col)),
        F.expr(
            f"transform(sequence(1, length({term_col}), 1), "
            f"i -> concat(substring({term_col}, 1, i - 1), "
            f"substring({term_col}, i + 1, length({term_col}))))"
        ),
    )
    return vocab.select(
        F.col(term_col).alias("term"),
        F.col(df_col).cast("long").alias("df"),
        F.explode(variants).alias("key"),
    ).select("key", "term", "df")


def spell_correct(vocab: DataFrame, query_terms: list[str],
                  max_edit: int = 1,
                  deletions: DataFrame | None = None) -> DataFrame:
    """(query_term, suggestion, df) — best vocabulary correction per
    query term within ``max_edit`` Levenshtein distance (terms with no
    candidate produce no row).

    Candidates come from the deletion index (complete for distance<=1
    per the module docstring); ``F.levenshtein`` post-filters the
    key-collision false positives exactly. Policy: distance asc, df
    desc, term asc — closest first, most frequent among equals.
    Pass a persisted ``deletions`` index to amortize across queries.

    ``max_edit`` is capped at 1: delete-1 keys are only guaranteed
    complete for distance 1 (SymSpell needs delete-2 keys for
    distance 2, which multiplies the index by avg_term_len — the
    standard trade; not needed for did-you-mean).
    """
    if max_edit != 1:
        raise ValueError("deletion index is built for max_edit=1")
    spark = vocab.sparkSession
    idx = deletions if deletions is not None else deletion_index(vocab)
    probes = spark.createDataFrame(
        sorted(
            {(q, v) for q in query_terms for v in _delete_variants_py(q)}
        ),
        "query_term string, key string",
    )
    cands = (
        idx.join(F.broadcast(probes), "key")
        .select("query_term", "term", "df")
        .distinct()
        .withColumn("dist", F.levenshtein("query_term", "term"))
        .filter(F.col("dist") <= max_edit)
    )
    w = Window.partitionBy("query_term").orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()
    )
    return (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("query_term", F.col("term").alias("suggestion"), "df")
    )
