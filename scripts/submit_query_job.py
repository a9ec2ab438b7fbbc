"""Serve queries from a published index snapshot — the query half of the
spark-submit surface (the build half is submit_index_job.py
--publish-root, or submit_refresh_job.py for a refreshed pages index).

Every mode goes through the one serving module,
``pipeline/refresh.refreshed_*``. The serving session needs only the
snapshot-table root: corpus scalars (n_docs, avg doc length) and the
term-bucket modulus are table properties, doc_lengths ride inside the
segments, and each query reads a bucket-pruned file list planned from
the manifest's per-file stats — at 10^12 docs a 3-term query opens 3
buckets' worth of data files, not the table. Time travel serves any
retained version (--version), so a query fleet can pin a build while a
new one publishes.

Usage (spark-submit --py-files se.zip scripts/submit_query_job.py ...):
    --table-root /path/to/published  [--version N]
    --queries "new york;camping in yosemite;..."  [--k 10]
    (default)    exact BM25 top-k per query (refreshed_topk)
    --wand       block-max WAND top-k per query (refreshed_wand_topk)
    --batch      the WHOLE ranked-query set as one decode and one
                 scoring plan (refreshed_topk_batch) — the query-log
                 replay path
    --boolean    treat queries as the reference's boolean grammar
                 (AND/OR/NOT, "phrase", [a NEAR/k b]) and serve doc_id
                 sets (refreshed_boolean; the snapshot must carry the
                 biword family for two-term phrase queries)

Prints ONE JSON line: per-query wall + result rows (doc_id, score), or
doc_ids for --boolean.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table-root", required=True)
    ap.add_argument("--version", type=int, default=None)
    ap.add_argument("--queries", required=True,
                    help="semicolon-separated queries")
    ap.add_argument("--k", type=int, default=10)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--wand", action="store_true",
                      help="block-max WAND (default: full-decode scoring)")
    mode.add_argument("--boolean", action="store_true",
                      help="boolean-grammar queries -> doc_id sets")
    mode.add_argument("--batch", action="store_true",
                      help="serve all ranked queries in one plan")
    ap.add_argument("--max-rows", type=int, default=1000,
                    help="cap on printed doc_ids per boolean query")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("searchengine-query").getOrCreate()
    try:
        import searchengine_spark  # noqa: F401
    except ImportError:
        sys.path.insert(0, ".")
    from searchengine_spark.pipeline import refresh as R

    queries = [s for s in args.queries.split(";") if s.strip()]
    out = {"table_root": args.table_root, "version": args.version,
           "queries": {}}

    if args.boolean:
        out["path"] = "boolean"
        for q in queries:
            t0 = time.time()
            res = R.refreshed_boolean(spark, args.table_root, q,
                                      version=args.version)
            ids = [r[0] for r in res.limit(args.max_rows).collect()]
            out["queries"][q] = {"wall_s": round(time.time() - t0, 3),
                                 "doc_ids": ids}
    elif args.batch:
        qmap = {f"q{i}": q for i, q in enumerate(queries)}
        t0 = time.time()
        rows = R.refreshed_topk_batch(spark, args.table_root, qmap,
                                      k=args.k,
                                      version=args.version).collect()
        out.update(k=args.k, path="batch",
                   batch_wall_s=round(time.time() - t0, 3),
                   n_queries=len(qmap))
        for qid, q in qmap.items():
            hits = sorted((r for r in rows if r.query_id == qid),
                          key=lambda r: r.rank)
            out["queries"][q] = {
                "top": [(r.doc_id, float(r.score)) for r in hits]}
    else:
        topk = R.refreshed_wand_topk if args.wand else R.refreshed_topk
        out.update(k=args.k, path="wand" if args.wand else "decode")
        for q in queries:
            t0 = time.time()
            res = topk(spark, args.table_root, q, k=args.k,
                       version=args.version)
            rows = [(r[0], float(r[1])) for r in res.collect()]
            out["queries"][q] = {"wall_s": round(time.time() - t0, 3),
                                 "top": rows}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
