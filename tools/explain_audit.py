"""Print the physical plans of the engine's hot paths (the audit
recorded in PERF.md) — run `python tools/explain_audit.py` to verify
partition pruning, filter pushdown, broadcast joins, and
TakeOrderedAndProject claims against the live Catalyst output. The
ranked entry points', the term lookup's, the segment merge's and the
diversified top-k's plan claims are asserted by
tests/test_scorer_plans.py instead."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> None:
    from pyspark.sql import functions as F

    from searchengine_spark.indexing.simple import build_simple_index, simple_query_term
    from searchengine_spark.session import get_spark

    spark = get_spark("explain-audit", cores=4, shuffle_partitions=4)
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    idx = build_simple_index(docs)

    print("=" * 70)
    print("JACCARD VERIFY — candidate x shingle joins must be SortMergeJoin")
    print("(never a broadcast of the corpus-scaled candidate table)")
    print("=" * 70)
    from searchengine_spark.ops.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs)
    cand = lsh_candidate_pairs(sigs)
    jaccard_verify(docs, cand).explain()

    print("=" * 70)
    print("SNIPPETS — hits bounded by a BROADCAST semi-join to the k")
    print("result docs BEFORE the positions explode; ONE RANGE-frame")
    print("window over those hits (RunningWindowFunction/Window, no")
    print("self-join); the documents join is a k-row broadcast")
    print("=" * 70)
    from searchengine_spark.queries.snippets import snippets_topk

    snippets_topk(idx, docs, "table scan merge", "bm25", 10, 8,
                  normalize=simple_query_term).explain("formatted")

    print("=" * 70)
    print("HYBRID ANN ARM (round 5) — the embeddings scan must carry the")
    print("sign-LSH bucket predicate as a DataFilter directly on the")
    print("FileScan (partition pruning once the table is written")
    print("bucketed), then cosine + TakeOrderedAndProject(depth); NO")
    print("full-table sort, NO shuffle before the bounded fusion")
    print("=" * 70)
    from searchengine_spark.queries.hybrid import dense_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0)
          .select("embedding").collect()[0][0]]
    dense_topk(emb, qv, 20, dense="ann", nbits=4).explain("formatted")


if __name__ == "__main__":
    main()
