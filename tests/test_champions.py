"""Champion-list (impact-ordered top-docs) tests: the salted two-stage
build equals a naive global window, and approximate top-k recall vs
exact rank_topk is high on the gate corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchengine_spark.indexing.simple import build_simple_index, simple_query_term
from searchengine_spark.queries.ranked import (
    champion_lists,
    rank_topk,
    rank_topk_champions,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def sidx(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return build_simple_index(docs).cache()


def test_salted_champions_equal_naive_window(spark, sidx):
    from pyspark.sql.window import Window

    from searchengine_spark.queries.ranked import _normalizer, _wdt

    r = 8
    champs = champion_lists(sidx, r=r, salt=4)
    got = {
        (row["term"], row["doc_id"])
        for row in champs.select("term", "doc_id").collect()
    }
    _, avg_dl = sidx.corpus_scalars()
    impact_e6 = F.floor(
        F.expr(f"({_wdt('bm25', avg_dl)}) / {_normalizer('bm25')}")
        * F.lit(1e6)
    ).cast("long")
    w = Window.partitionBy("term").orderBy(
        F.desc(impact_e6), F.desc("tftd"), F.desc("doc_id")
    )
    naive = (
        sidx.postings.withColumn("_rr", F.row_number().over(w))
        .filter(F.col("_rr") <= r)
        .select("term", "doc_id")
    )
    want = {(row["term"], row["doc_id"]) for row in naive.collect()}
    assert got == want


def test_champion_list_bounded_per_term(sidx):
    r = 8
    champs = champion_lists(sidx, r=r, salt=4)
    sizes = champs.groupBy("term").agg(F.count("*").alias("n")).collect()
    assert all(row["n"] <= r for row in sizes)


@pytest.mark.parametrize("query", ["table scan merge", "query window agg"])
def test_champion_topk_recall(sidx, query):
    """With r well above k the champion union contains the true top-k
    candidates for the gate corpus; recall@10 must be high and scores
    of returned docs must equal the exact scores (same formula, true
    dft)."""
    k, r = 10, 64
    champs = champion_lists(sidx, r=r)
    exact = rank_topk(sidx, query, "bm25", k, normalize=simple_query_term)
    approx = rank_topk_champions(sidx, champs, query, "bm25", k,
                                 normalize=simple_query_term)
    ex = {row["doc_id"]: row["score"] for row in exact.collect()}
    ap = {row["doc_id"]: row["score"] for row in approx.collect()}
    recall = len(set(ex) & set(ap)) / k
    assert recall >= 0.9, (recall, sorted(ex), sorted(ap))
    # any doc in both must carry the identical exact score
    for d in set(ex) & set(ap):
        assert ap[d] == pytest.approx(ex[d], abs=1e-12)
