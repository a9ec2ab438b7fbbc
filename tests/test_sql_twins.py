"""The SQL twins must agree with their Python counterparts.  Most need
no Spark, so they run fast.

* Porter2 CTE chain vs text/porter2.py (golden + fuzz).
* Reference-analyzer SQL prefix vs the pure-Python oracle index.
* Quirky phrase/NEAR recursive CTE (DuckDB, the gate's oracle) and the
  compiled ``aggregate`` walks (Spark, queries/engine.py) vs the same
  oracle.engine merges.
"""

from __future__ import annotations

import math
import random
import re

import duckdb
import pytest

from searchengine_spark.oracle.engine import (
    build_index,
    near_merge,
    phrase_merge,
    term_for_rank_mode,
)
from searchengine_spark.oracle.porter2_sql import (
    porter2_cte_chain,
    porter2_scalar_sql,
)
from searchengine_spark.oracle.ref_sql import (
    quirky_pair_sql,
    ref_bm25_sql,
)
from searchengine_spark.text.porter2 import stem

SF_DIR = "/root/testdata/sf0.001"

# Goldens from the reference's own unit tests
# (/root/reference/UnitTestingFramework.py:46-55).
REFERENCE_GOLDENS = {
    "conspicuous": "conspicu",
    "consolingly": "consol",
    "knight": "knight",
    "knightly": "knight",
}


def _sql_stems(words: list[str]) -> dict[str, str]:
    con = duckdb.connect()
    con.execute("CREATE TABLE toks(tok VARCHAR)")
    con.executemany("INSERT INTO toks VALUES (?)", [(w,) for w in words])
    sql = "WITH " + porter2_cte_chain("toks", "tok") + \
        "\nSELECT tok, stem FROM p2_out"
    return dict(con.execute(sql).fetchall())


def test_porter2_sql_reference_goldens():
    got = _sql_stems(sorted(REFERENCE_GOLDENS))
    assert got == REFERENCE_GOLDENS


def test_porter2_sql_fuzz_matches_python():
    rng = random.Random(20260817)
    alphabet = "abcdefghijklmnopqrstuvwxyz'.,0123456789y"
    words = {"", "y", "yy", "sky", "dying", "news", "generously",
             "communal", "arsenic", "earring", "succeed"}
    for _ in range(4000):
        words.add("".join(rng.choice(alphabet)
                          for _ in range(rng.randint(0, 13))))
    base = ("rat", "hop", "gener", "commun", "free", "tre", "abb")
    sufs = ("", "s", "ies", "ied", "sses", "eed", "eedly", "ed", "edly",
            "ing", "ingly", "y", "li", "ogi", "bli", "alli", "ization",
            "ational", "fulness", "iveness", "biliti", "entli", "ation",
            "enci", "anci", "abli", "izer", "ator", "alize", "icate",
            "ical", "ative", "ful", "ness", "ement", "ance", "ible",
            "ment", "ism", "ate", "iti", "ous", "ive", "ize", "ion",
            "al", "er", "ic", "e", "ll", "'s", "'s'", "'")
    for b in base:
        for s in sufs:
            words.add(b + s)
    words = sorted(words)
    got = _sql_stems(words)
    bad = [(w, stem(w), got.get(w)) for w in words if got.get(w) != stem(w)]
    assert not bad, bad[:10]


def test_porter2_sql_real_corpus_vocab(reference_tree):
    """Real English vocabulary, extracted through the actual reference
    tokenizer path (EnglishTokenStream split + NewTokenProcessor clean
    + hyphen expansion) from the reference's own shipped corpora —
    the distribution the gate oracle actually stems."""
    import glob
    import json as jsonlib

    from searchengine_spark.text.tokenizer import _clean_token, english_tokens

    vocab: set[str] = set()

    def add_text(txt: str) -> None:
        for tok in english_tokens(txt):
            c = _clean_token(tok)
            if "-" in c:
                vocab.update([c.replace("-", "")] + c.split("-"))
            else:
                vocab.add(c)

    for fp in sorted(glob.glob(f"{reference_tree}/MobyDick10Chapters/*.txt"))[:5]:
        add_text(open(fp, errors="ignore").read())
    for fp in sorted(glob.glob(f"{reference_tree}/relevance_cranfield/*.json"))[:60]:
        try:
            add_text(jsonlib.load(open(fp, errors="ignore")).get("body", ""))
        except Exception:
            continue
    assert len(vocab) > 2000
    words = sorted(vocab)
    got = _sql_stems(words)
    bad = [(w, stem(w), got.get(w)) for w in words if got.get(w) != stem(w)]
    assert not bad, bad[:10]


def test_porter2_scalar_sql():
    con = duckdb.connect()
    rows = dict(con.execute(
        "SELECT * FROM " + porter2_scalar_sql(["table", "scan", "merge"])
    ).fetchall())
    assert rows == {"table": "tabl", "scan": "scan", "merge": "merg"}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def docs():
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def test_ref_bm25_sql_matches_python_oracle(duck, docs):
    """The full reference-analyzer SQL (tokenize → clean → hyphen →
    SQL-Porter2 → pairwise-loop stats → BM25) equals the pure-Python
    oracle engine."""
    got = duck.execute(ref_bm25_sql(["table", "scan", "merge"])).fetchall()

    idx = build_index(docs)
    terms: dict[str, int] = {}
    for raw in set("table scan merge".split(" ")):
        t = term_for_rank_mode(raw)
        terms[t] = terms.get(t, 0) + 1
    acc: dict[int, float] = {}
    n, avg_dl = idx.n_docs, idx.avg_doc_length
    for term, mult in terms.items():
        plist = idx.get_postings(term)
        if not plist:
            continue
        wqt = max(0.1, math.log((n - len(plist) + 0.5) / (len(plist) + 0.5)))
        for doc_id, tftd, _ in plist:
            dl = idx.doc_length[doc_id]
            wdt = 2.2 * tftd / (1.2 * (0.25 + 0.75 * dl / avg_dl) + tftd)
            acc[doc_id] = acc.get(doc_id, 0.0) + mult * wqt * wdt
    exp = [(d, math.floor(s * 1e6))
           for d, s in sorted(acc.items(), key=lambda kv: (-kv[1], -kv[0]))[:10]]
    assert [tuple(r) for r in got] == exp


def test_ref_analyzer_sql_non_ascii_parity():
    """The SQL analyzer twin must track Python's Unicode-aware
    isalnum()/lower() semantics, not an ASCII approximation: accented
    letters, numeric forms (½), hyphen expansion, and quote dropping
    all behave identically."""
    from searchengine_spark.oracle.ref_sql import ref_prefix
    from searchengine_spark.text.tokenizer import analyze_document

    rows = [
        (0, "émigré tables ...naïve! 'quote' 1½x running merge"),
        (1, "tables merge"),
        (2, "a-b c--d -- émigré"),
        (3, "onlyone"),
        (4, ""),
        (5, "Müller's Straße-42 großes"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", rows)
    got = sorted(
        tuple(r) for r in con.execute(
            ref_prefix() + "SELECT term, doc_id, tftd FROM refpost"
        ).fetchall()
    )
    exp = []
    for did, text in rows:
        tf: dict[str, int] = {}
        for t, _ in analyze_document(text).term_positions:
            tf[t] = tf.get(t, 0) + 1
        exp.extend((t, did, c) for t, c in tf.items())
    assert got == sorted(exp)


SIMPLE_PREFIX = """
WITH tokarr AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts, text
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(ts) AS term, generate_subscripts(ts, 1) AS pos
  FROM tokarr
)
"""


def _simple_postings(docs, term):
    out = []
    for did, text in sorted(docs):
        toks = re.findall(r"[a-z0-9]+", text.lower())
        pos = [i + 1 for i, w in enumerate(toks) if w == term]
        if pos:
            out.append((did, len(pos), pos))
    return out


@pytest.mark.parametrize("t1,t2,off,mode", [
    ("table", "scan", 1, "phrase"),
    ("order", "group", 1, "phrase"),
    ("table", "scan", 3, "near"),
    ("query", "window", 2, "near"),
    ("hash", "join", 4, "near"),
])
def test_quirky_pair_sql_matches_merges(duck, docs, t1, t2, off, mode):
    sql = quirky_pair_sql(SIMPLE_PREFIX, t1, t2, off, mode)
    got = sorted(r[0] for r in duck.execute(sql).fetchall())
    fn = phrase_merge if mode == "phrase" else near_merge
    exp = sorted(p[0] for p in fn(_simple_postings(docs, t1),
                                  _simple_postings(docs, t2), off))
    assert got == exp


def _walk_cases(rng: random.Random, n: int) -> list[tuple]:
    """(x, y, offset) position-list pairs: sorted lists with repeats,
    empty lists, and first operands that are a phrase step's own hit
    list, as a nested phrase step feeds them (tail quirk #2 repeats the
    last position; some are shuffled, so the walks also meet unsorted
    input)."""
    def positions() -> list[int]:
        return sorted(rng.randint(0, 14) for _ in range(rng.randint(0, 7)))

    cases = []
    for _ in range(n):
        x, y, off = positions(), positions(), rng.randint(1, 5)
        if rng.random() < 0.4:
            inner = phrase_merge([(0, 0, x)], [(0, 0, positions())],
                                 rng.randint(1, 5))
            x = inner[0][2] if inner else []
            if rng.random() < 0.5:
                rng.shuffle(x)
        cases.append((x, y, off))
    return cases


def test_compiled_walks_match_merges(spark):
    """The Spark twin of the quirky merges: the compiled ``aggregate``
    phrase and NEAR steps against the same oracle merges, evaluated as
    one frame with one collect.  An empty hit list reads as NULL."""
    from searchengine_spark.queries.engine import near_step_sql, phrase_step_sql

    cases = _walk_cases(random.Random(20261020), 2400)
    assert any(x != sorted(x) for x, _, _ in cases)
    assert any(len(set(x)) < len(x) for x, _, _ in cases)
    assert any(not x for x, _, _ in cases) and any(not y for _, y, _ in cases)
    frame = spark.createDataFrame(
        [(i, x, y, off) for i, (x, y, off) in enumerate(cases)],
        "i int, x array<int>, y array<int>, off int")
    rows = frame.selectExpr(
        "i", f"{phrase_step_sql('x', 'y', 'off')} AS phrase",
        f"{near_step_sql('x', 'y', 'off')} AS near").collect()
    assert len(rows) == len(cases)
    for r in rows:
        x, y, off = cases[r["i"]]
        for got, fn in ((r["phrase"], phrase_merge), (r["near"], near_merge)):
            merged = fn([(0, len(x), x)], [(0, len(y), y)], off)
            assert got == (merged[0][2] if merged else None), (fn, x, y, off)


def test_near_quirk_diverges_from_clean(duck, docs):
    """The exact-k + unbounded-below tail semantics must actually
    differ from clean BETWEEN 1 AND k — otherwise the gate entry
    wouldn't exercise the quirk."""
    sql = quirky_pair_sql(SIMPLE_PREFIX, "table", "scan", 3, "near")
    quirky = {r[0] for r in duck.execute(sql).fetchall()}
    p1s = {d: p for d, _, p in _simple_postings(docs, "table")}
    p2s = {d: p for d, _, p in _simple_postings(docs, "scan")}
    clean = {
        d for d in set(p1s) & set(p2s)
        if any(1 <= y - x <= 3 for x in p1s[d] for y in p2s[d])
    }
    assert quirky != clean
