"""Checkpoint-resumable staged pipeline tests (north rule: resumable
from checkpoint with per-partition lineage + metrics)."""

from __future__ import annotations

import json
import os

from searchengine_spark.pipeline.checkpoint import (
    read_manifest,
    run_stage,
    stage_is_complete,
)
from searchengine_spark.pipeline.index_pipeline import run_index_pipeline


def test_run_stage_builds_and_resumes(spark, tmp_path):
    root = str(tmp_path)
    calls = []

    def build():
        calls.append(1)
        return spark.range(100).selectExpr("id", "id * 2 as v")

    df1 = run_stage(spark, root, "s1", "fp-a", build)
    assert df1.count() == 100 and len(calls) == 1
    # resume: matching fingerprint → no rebuild
    df2 = run_stage(spark, root, "s1", "fp-a", build)
    assert df2.count() == 100 and len(calls) == 1
    # changed fingerprint → rebuild
    run_stage(spark, root, "s1", "fp-b", build)
    assert len(calls) == 2


def test_manifest_lineage(spark, tmp_path):
    root = str(tmp_path)
    run_stage(spark, root, "s", "fp",
              lambda: spark.range(0, 1000, 1, numPartitions=4).selectExpr("id"))
    m = read_manifest(root, "s")
    assert m["complete"] is True and m["fingerprint"] == "fp"
    assert m["rows"] == 1000
    # per-partition lineage: one entry per parquet task file, rows sum up
    assert m["n_partitions"] >= 1
    assert sum(e["rows"] for e in m["partitions"]) == 1000
    assert all(e["bytes"] > 0 for e in m["partitions"])


def test_incomplete_stage_not_resumed(spark, tmp_path):
    root = str(tmp_path)
    os.makedirs(root + "/s2", exist_ok=True)
    with open(root + "/s2/manifest.json", "w") as fh:
        json.dump({"fingerprint": "fp", "complete": False}, fh)
    assert not stage_is_complete(root, "s2", "fp")


def test_index_pipeline_end_to_end_and_resume(spark, tmp_path):
    root = str(tmp_path / "idx")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(80)
    )
    idx = run_index_pipeline(spark, root, docs, "t1")
    n_postings = idx.postings.count()
    assert n_postings > 0
    assert idx.doc_stats.count() == 80
    row = idx.corpus_stats.collect()[0]
    assert row["n_docs"] == 80 and row["avg_doc_length"] > 0
    # resume is instant and reads identical data back
    idx2 = run_index_pipeline(spark, root, docs, "t1")
    assert idx2.postings.count() == n_postings
    for stage in ("analyzed", "postings", "doc_stats", "corpus_stats", "biword"):
        assert read_manifest(root, stage)["complete"] is True


def test_stage_segments(spark, tmp_path):
    from searchengine_spark.indexing.segments import SEG_COLS, decode_postings
    from searchengine_spark.pipeline.index_pipeline import stage_segments

    root = str(tmp_path / "idx")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    )
    idx = run_index_pipeline(spark, root, docs, "t2")
    seg = stage_segments(spark, root, idx, "t2", block_span=16)
    # plain build_segments rows: the bucket layout is publish_segments'
    assert seg.columns == SEG_COLS
    m = read_manifest(root, "segments")
    assert m["complete"] and m["rows"] == seg.count()
    # decode equals source postings for a term
    dec = decode_postings(seg, ["scan"])
    assert dec.count() == idx.postings.filter("term = 'scan'").count()
    # resume: second call instant, same row count
    seg2 = stage_segments(spark, root, idx, "t2", block_span=16)
    assert seg2.count() == seg.count()
