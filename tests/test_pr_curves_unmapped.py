"""eval/plots.pr_curves_for_query maps ranked doc_ids into the qrel id
namespace; a ranked doc_id the map lacks is a misuse that must fail
loudly with the doc_id named, not as a bare KeyError."""

import pytest

from searchengine_spark.eval.plots import pr_curves_for_query
from searchengine_spark.indexing.simple import build_simple_index, simple_query_term

QUERY = "table scan merge"


@pytest.fixture(scope="module")
def ranked(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_simple_index(docs).cache()
    from searchengine_spark.queries.ranked import rank_topk

    ids = [r["doc_id"] for r in rank_topk(
        idx, QUERY, "bm25", 10, normalize=simple_query_term).collect()]
    assert ids
    return idx, ids


def test_mapped_doc_ids_give_curves(ranked):
    idx, ids = ranked
    mapping = {d: 1000 + d for d in ids}
    curves = pr_curves_for_query(idx, QUERY, {1000 + ids[0]}, k=10,
                                 strategies=("bm25",),
                                 normalize=simple_query_term,
                                 doc_to_file=mapping)
    assert curves["bm25"][0] == (1.0, 1.0)


def test_unmapped_doc_id_raises_value_error_naming_it(ranked):
    idx, ids = ranked
    mapping = {d: 1000 + d for d in ids[1:]}
    with pytest.raises(ValueError, match=rf"doc_id {ids[0]}\b"):
        pr_curves_for_query(idx, QUERY, set(), k=10, strategies=("bm25",),
                            normalize=simple_query_term, doc_to_file=mapping)
