"""Boolean query engine — compiles the reference grammar's AST into ONE
Spark SQL statement over the query's decoded postings: filter to the
query's terms, group by doc_id into one column per term (``t0``, ``t1``,
…: the term's positions in the document, or ``true`` where only its
presence is read; NULL when it is absent), keep the rows where one
predicate compiled from the AST holds, order by doc_id.  Every operator
is doc-local (SURVEY.md §2.4):
  term       -> tN IS NOT NULL
  AND        -> a AND b                (merge_posting.py:311-324)
  AND-NOT    -> a AND NOT b            (merge_posting.py:353-369)
  OR         -> a OR b; the group-by makes it distinct (:327-350)
  NOT        -> marker; consumed by AND (queries/notquery.py:8-27)
  phrase     -> a fold of ``aggregate`` two-pointer walks over the
                words' positions (merge_posting.py:62-113), its tail
                quirks reproduced for rank-identity: they can MISS
                valid matches, e.g. x=[1,3], y=[2,4], offset=3
  NEAR/k     -> the same walk, k-offset variant (merge_posting.py:260-308)
  biword     -> a single 2-term phrase query hits the biword index
                (main.py:413-418)
A step's value is its hit list (NULL when empty), fed unchanged to the
phrase's next step, repeats and all.  The AndQuery quirk is mirrored:
when the FIRST component is negative, every fold iteration applies
and_not(current, acc) and then still the component's own branch
(queries/andquery.py:28-38 — an `if`, not `elif`).

Scale: only the query's terms are decoded (positions only for a phrase
or NEAR); the group-by shuffles every decoded posting of every query
term once, by doc_id, so the cost follows their summed posting lists: a
rare term AND a head term ships the whole head list (PERF.md).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame

from ..indexing.build import SparkIndex
from ..sqltext import sql_literal
from ..text.tokenizer import process_token
from .parser import Node, parse_boolean_query


def boolean_query_term(raw_term: str) -> str:
    """TermLiteral boolean mode (termliteral.py:22-54): hyphenated query
    terms use the FUSED form tokenized[0]."""
    expansions = process_token(raw_term)
    return expansions[0] if "-" in raw_term else (expansions[-1] if expansions else "")


# the walk's cursors into q.x / q.y, and x's last position
_XA, _YB, _LAST_X = ("get(q.x, s.a - 1)", "get(q.y, s.b - 1)",
                     "get(q.x, size(q.x) - 1)")


def _walk(x: str, y: str, off: str, emit: str, tails: str) -> str:
    """One quirky two-pointer merge of the position arrays ``x`` and
    ``y`` (SQL text, each bound once as ``q.x``/``q.y``): the main loop
    emits ``emit`` when ``y - x = off``, then ``tails`` scan the
    leftovers.  NULL when an input is NULL or nothing hits.  ``get``
    reads NULL past either end, so no index raises under ANSI mode; the
    hit list starts as an empty slice of ``x``, so it takes its type."""
    return (
        f"get(filter(transform(filter(array(named_struct('x', {x}, 'y', {y})),"
        " q -> q.x IS NOT NULL AND q.y IS NOT NULL),"
        " q -> aggregate(sequence(1, size(q.x) + size(q.y)),"
        " named_struct('a', 1, 'b', 1, 'h', slice(q.x, 1, 0)),"
        " (s, i) -> CASE WHEN s.a > size(q.x) OR s.b > size(q.y) THEN s"
        f" WHEN {_YB} - {_XA} = {off} THEN"
        f" named_struct('a', s.a + 1, 'b', s.b + 1, 'h', concat(s.h, array({emit})))"
        f" WHEN {_XA} < {_YB} THEN named_struct('a', s.a + 1, 'b', s.b, 'h', s.h)"
        f" WHEN {_YB} < {_XA} THEN named_struct('a', s.a, 'b', s.b + 1, 'h', s.h)"
        " ELSE named_struct('a', s.a + 1, 'b', s.b + 1, 'h', s.h) END,"
        f" s -> concat(s.h, {tails}))), h -> size(h) > 0), 0)")


def phrase_step_sql(x: str, y: str, off: str) -> str:
    """``oracle.engine.phrase_merge`` in one document: x's positions
    with a y position ``off`` after, then tail quirk #1 (leftover x vs
    y's LAST position) and #2 (leftover y vs x's LAST, emitting it)."""
    return _walk(x, y, off, _XA, (
        "filter(slice(q.x, s.a, size(q.x)),"
        f" v -> get(q.y, size(q.y) - 1) - v = {off}),"
        " transform(filter(slice(q.y, s.b, size(q.y)),"
        f" v -> v - {_LAST_X} = {off}), v -> {_LAST_X})"))


def near_step_sql(x: str, y: str, k: str) -> str:
    """``oracle.engine.near_merge`` in one document: y's positions ``k``
    after an x position, then leftover y at most ``k`` past x's LAST
    (the reference's first tail loop is dead code)."""
    return _walk(x, y, k, _YB, "filter(slice(q.y, s.b, size(q.y)),"
                 f" v -> v - {_LAST_X} <= {k})")


class CompiledQuery(NamedTuple):
    """The terms a query decodes (column ``tN`` is ``terms[N]``), which
    of them it reads the positions of, whether they are biword keys,
    and its predicate over the columns."""

    terms: tuple[str, ...]
    positions: tuple[bool, ...]
    biword: bool
    predicate: str


def compile_query(node: Node, normalize, biword: bool = True) -> CompiledQuery:
    """Compile a parsed query.  ``biword=False`` keeps a lone two-term
    phrase on the positional walk instead of the biword fast path."""
    if biword and node.kind == "phrase" and len(node.term.split(" ")) == 2:
        # Biword fast path: entire query is one 2-term phrase (main.py:413-418)
        key = " ".join(map(normalize, node.term.split(" ")))
        return CompiledQuery((key,), (False,), True, "(t0 IS NOT NULL)")
    terms: dict[str, bool] = {}  # term -> read its positions, column order

    def lookup(raw: str, positions: bool) -> str:
        term = normalize(raw)
        terms[term] = terms.get(term, False) or positions
        col = f"t{list(terms).index(term)}"
        return col if positions else f"({col} IS NOT NULL)"

    def hits(n: Node) -> str:
        if n.kind == "near":
            return near_step_sql(hits(n.children[0]), hits(n.children[1]),
                                 str(n.k))
        # a term is a one-word phrase; a missing word reads NULL
        words = n.term.split(" ")
        acc = lookup(words[0], True)
        for i in range(1, len(words)):
            acc = phrase_step_sql(acc, lookup(words[i], True), str(i))
        return acc

    def pred(n: Node) -> str:
        if n.kind == "term":
            return lookup(n.term, False)
        if n.kind in ("phrase", "near"):
            return f"({hits(n)} IS NOT NULL)"
        if n.kind == "not":
            return pred(n.children[0])
        if n.kind == "or":
            return "(" + " OR ".join(map(pred, n.children)) + ")"
        acc = pred(n.children[0])
        for comp in n.children[1:]:
            p2 = pred(comp)
            if n.children[0].is_negative:
                acc = f"({p2} AND NOT {acc})"
            acc = f"({acc} AND {'NOT ' if comp.is_negative else ''}{p2})"
        return acc

    predicate = pred(node)
    return CompiledQuery(tuple(terms), tuple(terms.values()), False,
                         predicate)


def compiled_docs(postings: DataFrame, query: CompiledQuery) -> DataFrame:
    """DataFrame(doc_id), sorted, of the documents where ``query``
    holds: one ``spark.sql`` statement over ``postings`` (term, doc_id,
    and positions when the query reads them)."""
    cols = ", ".join(
        f"max(CASE WHEN term = {sql_literal(t)} THEN "
        f"{'positions' if p else 'true'} END) AS t{i}"
        for i, (t, p) in enumerate(zip(query.terms, query.positions)))
    # spark.sql drops the temp view it registers for a frame, and that
    # uncaches the frame if it is cached (a SparkIndex's postings): give
    # it a derived frame, the term filter
    matched = postings.where(
        f"term IN ({', '.join(map(sql_literal, query.terms))})")
    return postings.sparkSession.sql(
        f"SELECT doc_id FROM (SELECT doc_id, {cols} FROM {{matched}} "
        f"GROUP BY doc_id) WHERE {query.predicate} ORDER BY doc_id",
        matched=matched)


def boolean_query(index: SparkIndex, query: str, normalize=None) -> DataFrame:
    """Evaluate a boolean query; returns DataFrame(doc_id) in canonical
    sorted order (the reference's set() print order is nondeterministic,
    main.py:420-426 — SURVEY.md §7 canonicalizes to sorted doc_id).
    ``normalize`` maps a raw query literal to an index term; defaults to
    the reference analyzer's boolean-mode rules (pass
    ``simple.simple_query_term`` for a simple-analyzer index)."""
    node = parse_boolean_query(query)
    if node is None:
        return index.postings.sparkSession.createDataFrame([], "doc_id long")
    compiled = compile_query(node, normalize or boolean_query_term)
    return compiled_docs(index.biword if compiled.biword else index.postings,
                         compiled)


def phrase_query_positional(index: SparkIndex, phrase: str, normalize=None) -> DataFrame:
    """Force the positional-merge path (bypasses the biword rewrite)."""
    return compiled_docs(index.postings, compile_query(
        Node("phrase", term=phrase), normalize or boolean_query_term,
        biword=False))
