"""Spark engine vs oracle: postings parity, boolean goldens, ranked
goldens, and rank-identity on a synthetic web corpus."""

import math

import pytest

from searchengine_spark.corpus import make_page
from searchengine_spark.indexing.build import build_index
from searchengine_spark.oracle import engine as oracle
from searchengine_spark.queries.engine import boolean_query, phrase_query_positional
from searchengine_spark.queries.ranked import rank_topk

PETS = [
    (0, "cats jump high"),
    (1, "dogs run fast"),
    (2, "dogs and cats are pets"),
    (3, "pets should run and jump and play"),
    (4, "pets should have pets"),
    (5, "pets should play games"),
]

DUMMY2 = [
    (0, "cats jump high cats"),
    (1, "dogs run fast cats"),
]


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def pets_sidx(spark):
    return build_index(_docs_df(spark, PETS)).cache()


@pytest.fixture(scope="module")
def dummy2_sidx(spark):
    return build_index(_docs_df(spark, DUMMY2)).cache()


@pytest.fixture(scope="module")
def pets_oidx():
    return oracle.build_index(PETS)


def test_postings_parity(pets_sidx, pets_oidx):
    got = {
        (r["term"], r["doc_id"]): (r["tftd"], list(r["positions"]))
        for r in pets_sidx.postings.collect()
    }
    want = {
        (term, doc_id): (tftd, positions)
        for term, plist in pets_oidx.postings.items()
        for doc_id, tftd, positions in plist
    }
    assert got == want


def test_doc_stats_parity(pets_sidx, pets_oidx):
    rows = {r["doc_id"]: r for r in pets_sidx.doc_stats.collect()}
    assert len(rows) == 6
    for doc_id in range(6):
        r = rows[doc_id]
        assert math.isclose(r["Ld"], pets_oidx.ld[doc_id], abs_tol=1e-12)
        assert r["doc_length"] == pets_oidx.doc_length[doc_id]
        assert math.isclose(r["avg_tftd"], pets_oidx.avg_tftd[doc_id], abs_tol=1e-12)
    n_docs, avg_dl = pets_sidx.corpus_scalars()
    assert n_docs == 6
    assert math.isclose(avg_dl, pets_oidx.avg_doc_length, abs_tol=1e-12)


def test_doc_stats_degenerate_docs(spark):
    """Empty / punctuation-only / single-token docs through the v2
    doc-local stat folds (indexing/build.doc_local_ld/avg_tftd): empty
    postings arrays must fold to Ld=0/avg_tftd=0 (the pre-v2
    left-join + fillna value), the +1 docLength quirk must survive,
    and the pairwise loop's 1-token-doc drop must keep such docs out
    of postings while doc_stats still carries a row for them."""
    rows = [(0, ""), (1, "..."), (2, "cats"), (3, "cats cats cats jump")]
    sidx = build_index(_docs_df(spark, rows))
    oidx = oracle.build_index(rows)
    got = {r["doc_id"]: r for r in sidx.doc_stats.collect()}
    assert set(got) == {0, 1, 2, 3}
    for doc_id, r in got.items():
        assert math.isclose(r["Ld"], oidx.ld[doc_id], abs_tol=1e-12)
        assert r["doc_length"] == oidx.doc_length[doc_id]
        assert math.isclose(r["avg_tftd"], oidx.avg_tftd[doc_id], abs_tol=1e-12)
    post_docs = {r["doc_id"] for r in sidx.postings.collect()}
    assert post_docs == {3}  # 1-token and empty docs emit no postings


BOOLEAN_GOLDENS = [
    ('"pets should play"', 1),
    ('"pets should run and jump and play"', 1),
    ("pets should play", 2),
    ("cat run", 0),
    ("pets should play run jump", 1),
    ("cats + dog + pet", 6),
    ("should + run + and", 5),
    ("rat + hamster + bird", 0),
    ("pets -should", 1),
    ("-run dogs", 1),
    ("-jump -dogs pets", 4),
    ("should -jump -run", 2),
    ("cat -jump -dog", 0),
    ("should run + dogs", 3),
    ("cat + run -dogs", 3),
    ("cat + should + fast + run -dogs", 6),
    ("cat -dog -jump + dog -cat -fast + pets -should -are", 0),
    ("cat -dog -jump + dog -cat -fast + pets -should", 1),
    ("[jump NEAR/2 play]", 1),
    ("[cats NEAR/1 jump]", 1),
]


@pytest.mark.parametrize("query,expected", BOOLEAN_GOLDENS)
def test_spark_boolean_matches_oracle(pets_sidx, pets_oidx, query, expected):
    got = [r["doc_id"] for r in boolean_query(pets_sidx, query).collect()]
    want = oracle.boolean_query_docs(pets_oidx, query)
    assert got == want
    assert len(got) == expected


def test_spark_biword_fast_path(pets_sidx):
    got = [r["doc_id"] for r in boolean_query(pets_sidx, '"pets should"').collect()]
    assert got == [3, 4, 5]
    got = [r["doc_id"] for r in boolean_query(pets_sidx, '"dogs run"').collect()]
    assert got == [1]


def test_boolean_query_keeps_the_index_cached(pets_sidx):
    """The compiled statement leaves a cached index cached: spark.sql
    drops the temp view it registers for each frame it is given, and
    dropping a view of a cached frame uncaches that frame."""
    for q in ("pets -should", '"pets should"', '"pets should play"'):
        boolean_query(pets_sidx, q).collect()
    phrase_query_positional(pets_sidx, "pets should").collect()
    assert pets_sidx.postings.storageLevel.useMemory
    assert pets_sidx.biword.storageLevel.useMemory


def test_spark_phrase_positional(pets_sidx):
    got = [
        r["doc_id"]
        for r in phrase_query_positional(pets_sidx, "pets should play").collect()
    ]
    assert got == [5]


RANKED_GOLDENS = [
    ("default", "cat", 0.5319866956),
    ("default", "dog run", 1.098612289),
    ("tfidf", "dog run", 0.6931471806),
    ("bm25", "cat", 0.1375),
    ("bm25", "dog run", 0.2),
    ("wacky", "cat", 0.0),
]


@pytest.mark.parametrize("strategy,query,expected", RANKED_GOLDENS)
def test_spark_ranked_goldens(dummy2_sidx, strategy, query, expected):
    rows = rank_topk(dummy2_sidx, query, strategy=strategy, k=10).collect()
    assert rows
    assert math.isclose(rows[0]["score"], expected, abs_tol=1e-8)


def assert_rank_identical(spark_rows, oracle_rows, tol=1e-9):
    """Rank-identity with tie groups: scores must match to tol and doc
    order must match except within exact-tie groups (last-ULP summation
    order differences are allowed to permute only equal-score docs)."""
    assert len(spark_rows) == len(oracle_rows)
    i = 0
    n = len(oracle_rows)
    while i < n:
        j = i + 1
        while j < n and abs(oracle_rows[j][0] - oracle_rows[i][0]) <= tol:
            j += 1
        o_group = {d for _, d in oracle_rows[i:j]}
        s_group = {r["doc_id"] for r in spark_rows[i:j]}
        assert s_group == o_group, (i, j, s_group, o_group)
        for k in range(i, j):
            assert abs(spark_rows[k]["score"] - oracle_rows[k][0]) <= tol
        i = j


SYNTH_QUERIES = [
    "camping in yosemite",
    "devils postpile",
    "strenuous",
    "the national park",
    "search engine query ranking",
    "real-gas state",
    "whaling historical bedford",
]


@pytest.fixture(scope="module")
def synth_docs():
    return [(i, make_page(i)["text"]) for i in range(120)]


@pytest.fixture(scope="module")
def synth_sidx(spark, synth_docs):
    return build_index(_docs_df(spark, synth_docs)).cache()


@pytest.fixture(scope="module")
def synth_oidx(synth_docs):
    return oracle.build_index(synth_docs)


@pytest.mark.parametrize("strategy", ["default", "tfidf", "bm25", "wacky"])
@pytest.mark.parametrize("query", SYNTH_QUERIES)
def test_rank_identity_synthetic(synth_sidx, synth_oidx, strategy, query):
    got = rank_topk(synth_sidx, query, strategy=strategy, k=10).collect()
    want = oracle.rank(synth_oidx, query, strategy=strategy, k=10)
    assert_rank_identical(got, want)


@pytest.mark.parametrize(
    "query",
    [
        "camping + yosemite -strenuous",
        '"the national park"',
        "[search NEAR/2 ranking]",
        "park -national + engine query",
    ],
)
def test_boolean_identity_synthetic(synth_sidx, synth_oidx, query):
    got = [r["doc_id"] for r in boolean_query(synth_sidx, query).collect()]
    want = oracle.boolean_query_docs(synth_oidx, query)
    assert got == want
