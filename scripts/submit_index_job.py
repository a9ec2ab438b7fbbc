"""spark-submit entrypoint for the staged index build (north rule:
"run via spark-submit --py-files on multi-executor clusters").

Cluster usage:

    cd /root/repo && zip -r /tmp/searchengine_spark.zip searchengine_spark
    spark-submit --py-files /tmp/searchengine_spark.zip \
        scripts/submit_index_job.py --n-docs 400000 --root /tmp/idx

On a real cluster add --master/--num-executors; the job itself is
master-agnostic. The same pipeline is what bench.py times for the
N→4N scaling evidence. Prints one JSON line with per-stage rows/wall
from the checkpoint manifests.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=100_000)
    ap.add_argument("--root", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--docs-parquet", default=None,
                    help="existing docs table (skip synthesis)")
    ap.add_argument("--publish-root", default=None,
                    help="snapshot-table root to publish compressed "
                         "segments to (a new table version per build)")
    ap.add_argument("--term-buckets", type=int, default=64,
                    help="term hash buckets for the segment layout; "
                         "recorded as a table property so serving "
                         "readers can plan bucket-pruned scans")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("searchengine-index-build").getOrCreate()
    # when launched via spark-submit --py-files the package is already
    # on executors; when run directly, ship it ourselves
    try:
        import searchengine_spark  # noqa: F401
    except ImportError:
        sys.path.insert(0, ".")
    from searchengine_spark.pipeline.checkpoint import read_manifest
    from searchengine_spark.pipeline.index_pipeline import (
        run_index_pipeline,
        stage_docs,
    )

    t0 = time.time()
    if args.docs_parquet:
        docs = spark.read.parquet(args.docs_parquet)
        fp = f"ext:{args.docs_parquet}"
    else:
        docs = stage_docs(spark, args.root, args.n_docs, args.seed)
        fp = f"synth:{args.n_docs}:{args.seed}"
    index = run_index_pipeline(spark, args.root, docs, fp)

    published = None
    if args.publish_root:
        from searchengine_spark.pipeline.index_pipeline import (
            publish_segments,
            stage_segments,
        )

        seg = stage_segments(spark, args.root, index, fp)
        published = publish_segments(spark, args.publish_root, seg,
                                     term_buckets=args.term_buckets,
                                     note=f"build {fp}",
                                     corpus_stats=index.corpus_stats,
                                     biword=index.biword)
    wall = time.time() - t0

    stages = {}
    for st in ("analyzed", "postings", "doc_stats", "corpus_stats", "biword"):
        m = read_manifest(args.root, st)
        stages[st] = {"rows": m["rows"], "wall_s": m["wall_s"],
                      "partitions": m["n_partitions"]}
    print(json.dumps({"wall_s": round(wall, 2), "root": args.root,
                      "stages": stages, "published_version": published}))
    spark.stop()


if __name__ == "__main__":
    main()
