"""spark-submit entrypoint for STREAMING index maintenance: drain the
pages drops under --input through start_segment_maintenance. Each
micro-batch is appended to the pages SnapshotTable at --pages-root, and
the index table at --index-root is built (first batch) or refreshed with
one O(delta) row-delta commit, then compacted only past the maintenance
thresholds — the same loop submit_refresh_job.py runs per crawl cycle.

Cluster usage (cron per crawl-drop cadence), from the repository root:

    zip -r searchengine_spark.zip searchengine_spark
    spark-submit --py-files searchengine_spark.zip \
        scripts/submit_stream_maintenance_job.py \
        --input /crawl/drops --pages-root /warehouse/pages \
        --index-root /warehouse/pages_index

Exactly-once across invocations comes from the stream's checkpoint dir
(file-source offsets under {pages-root}/_checkpoint) plus the batch id
recorded on the pages table; re-running after a crash resumes from the
last committed micro-batch. The index table serves directly through
pipeline/refresh.refreshed_* (submit_query_job.py). Prints one JSON line
with the drained versions, the live doc count and the maintenance stats.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None, spark=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="directory the crawl drops (pages parquet) land in")
    ap.add_argument("--pages-root", required=True,
                    help="SnapshotTable root the micro-batches append to")
    ap.add_argument("--index-root", required=True,
                    help="SnapshotTable root of the maintained index")
    args = ap.parse_args(argv)

    owns_spark = spark is None
    if owns_spark:
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder
                 .appName("searchengine-stream-maintenance").getOrCreate())
    try:
        import searchengine_spark  # noqa: F401
    except ImportError:
        sys.path.insert(0, ".")
    from searchengine_spark.pipeline.refresh import maintenance_stats
    from searchengine_spark.sources.snapshots import SnapshotTable
    from searchengine_spark.streaming.ingest import start_segment_maintenance

    t0 = time.time()
    start_segment_maintenance(spark, args.input, args.pages_root,
                              args.index_root).awaitTermination()
    out: dict = {"pages_root": args.pages_root,
                 "index_root": args.index_root,
                 "drain_wall_s": round(time.time() - t0, 3),
                 "pages_version": SnapshotTable(
                     args.pages_root).current_version(),
                 "index_version": None}
    index = SnapshotTable(args.index_root)
    if index.current_version() is not None:  # else: no drops to drain
        props = index.properties()
        out["index_version"] = index.current_version()
        out["indexed_pages_version"] = props["pages_version"]
        out["n_docs"] = props["n_docs"]
        out["maintenance"] = maintenance_stats(args.index_root)
    print(json.dumps(out))
    if owns_spark:
        spark.stop()
    return out


if __name__ == "__main__":
    main()
