"""Boolean query engine — compiles the reference grammar's AST into
DataFrame plans over the postings index.

Operator mapping (SURVEY.md §2.4):
  AND            -> inner join on doc_id        (merge_posting.py:311-324)
  AND-NOT        -> left_anti join              (merge_posting.py:353-369)
  OR             -> union + distinct            (merge_posting.py:327-350)
  NOT            -> marker; consumed by AND     (queries/notquery.py:8-27)
  phrase         -> doc_id join + per-doc positional merge
                    (merge_posting.py:62-113 — the reference's exact-offset
                    two-pointer with its tail quirks can MISS valid matches,
                    e.g. positions x=[1,3], y=[2,4], offset=3; we reproduce
                    the algorithm as implemented for rank-identity, inside
                    an Arrow-batched pandas UDF over candidate docs only)
  NEAR/k         -> same, k-offset variant      (merge_posting.py:260-308)
  biword rewrite -> a single 2-term phrase query hits the biword index
                    (main.py:413-418)

The AndQuery control-flow quirk is mirrored: when the FIRST component
is negative, every fold iteration first applies and_not(current, acc)
and then still applies the current component's own branch
(queries/andquery.py:28-38 — an `if`, not `elif`).

Scale: term lookups are partition-pruned scans; joins on doc_id are
AQE-planned (broadcast when one side is small); the per-doc positional
merge only ever sees docs containing BOTH terms.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..indexing.build import SparkIndex, term_filter
from ..oracle.engine import phrase_merge, near_merge
from ..text.tokenizer import process_token
from .parser import Node, parse_boolean_query


def _positional_pair_udf(merge_fn):
    """Wrap one of the oracle's per-doc positional merge algorithms as a
    pandas UDF over (positions_left, positions_right, offset) columns."""

    def batch(px: pd.Series, py: pd.Series, off: pd.Series) -> pd.Series:
        out = []
        for p1, p2, o in zip(px, py, off):
            merged = merge_fn(
                [(0, len(p1), list(p1))], [(0, len(p2), list(p2))], int(o)
            )
            out.append(merged[0][2] if merged else [])
        return pd.Series(out)

    return F.pandas_udf(batch, T.ArrayType(T.IntegerType()))


phrase_pair_udf = _positional_pair_udf(phrase_merge)
near_pair_udf = _positional_pair_udf(near_merge)


def boolean_query_term(raw_term: str) -> str:
    """TermLiteral boolean mode (termliteral.py:22-54): hyphenated query
    terms use the FUSED form tokenized[0]."""
    expansions = process_token(raw_term)
    return expansions[0] if "-" in raw_term else (expansions[-1] if expansions else "")


def _boolean_term(index: SparkIndex, raw_term: str, normalize) -> DataFrame:
    return term_filter(index.postings, [normalize(raw_term)]).select(
        "doc_id", "positions")


def _positional_fold(left: DataFrame, right: DataFrame, offset: int, udf) -> DataFrame:
    l = left.select(F.col("doc_id"), F.col("positions").alias("_pl"))
    r = right.select(F.col("doc_id"), F.col("positions").alias("_pr"))
    return (
        l.join(r, "doc_id")
        .withColumn("positions", udf(F.col("_pl"), F.col("_pr"), F.lit(offset)))
        .filter(F.size("positions") > 0)
        .select("doc_id", "positions")
    )


def _eval_phrase(index: SparkIndex, phrase: str, normalize) -> DataFrame:
    terms = phrase.split(" ")
    acc = _boolean_term(index, terms[0], normalize)
    for i in range(1, len(terms)):
        acc = _positional_fold(
            acc, _boolean_term(index, terms[i], normalize), i, phrase_pair_udf
        )
    return acc


def _eval(index: SparkIndex, node: Node, normalize) -> DataFrame:
    if node.kind == "term":
        return _boolean_term(index, node.term, normalize)
    if node.kind == "phrase":
        return _eval_phrase(index, node.term, normalize)
    if node.kind == "near":
        left = _eval(index, node.children[0], normalize)
        right = _eval(index, node.children[1], normalize)
        return _positional_fold(left, right, node.k, near_pair_udf)
    if node.kind == "not":
        return _eval(index, node.children[0], normalize)
    if node.kind == "and":
        acc = _eval(index, node.children[0], normalize)
        first_negative = node.children[0].is_negative
        for comp in node.children[1:]:
            p2 = _eval(index, comp, normalize)
            if first_negative:
                acc = p2.join(acc.select("doc_id"), "doc_id", "left_anti")
            if comp.is_negative:
                acc = acc.join(p2.select("doc_id"), "doc_id", "left_anti")
            else:
                acc = acc.join(p2.select("doc_id"), "doc_id", "left_semi")
        return acc
    if node.kind == "or":
        acc = _eval(index, node.children[0], normalize).select("doc_id")
        for comp in node.children[1:]:
            acc = acc.unionByName(_eval(index, comp, normalize).select("doc_id"))
        return acc.distinct()
    raise ValueError(node.kind)


def boolean_query(index: SparkIndex, query: str, normalize=None) -> DataFrame:
    """Evaluate a boolean query; returns DataFrame(doc_id) in canonical
    sorted order (the reference's set() print order is nondeterministic,
    main.py:420-426 — SURVEY.md §7 canonicalizes to sorted doc_id).

    ``normalize`` maps a raw query literal to an index term; defaults to
    the reference analyzer's boolean-mode rules. Pass
    ``simple.simple_query_term`` for indexes built with the simple
    analyzer.
    """
    normalize = normalize or boolean_query_term
    spark = index.postings.sparkSession
    node = parse_boolean_query(query)
    if node is None:
        return spark.createDataFrame([], "doc_id long")
    # Biword fast path: entire query is one 2-term phrase (main.py:413-418)
    if node.kind == "phrase" and len(node.term.split(" ")) == 2:
        t1, t2 = node.term.split(" ")
        key = normalize(t1) + " " + normalize(t2)
        return (
            term_filter(index.biword, [key])
            .select("doc_id")
            .distinct()
            .orderBy("doc_id")
        )
    return _eval(index, node, normalize).select("doc_id").distinct().orderBy("doc_id")


def phrase_query_positional(index: SparkIndex, phrase: str, normalize=None) -> DataFrame:
    """Force the positional-merge path (bypasses the biword rewrite)."""
    normalize = normalize or boolean_query_term
    return (
        _eval_phrase(index, phrase, normalize)
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )
