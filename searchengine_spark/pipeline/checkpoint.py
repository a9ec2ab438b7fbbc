"""Checkpoint-resumable pipeline stages with per-partition lineage
(north rule: "term-partitioned index segments written back ... with
per-partition lineage and checkpoint-resumable stages").

Each stage writes its DataFrame to ``<root>/<stage>/data`` (parquet) and
records ``<root>/<stage>/manifest.json`` with:

* the stage's input ``fingerprint`` (a caller-supplied string capturing
  everything the output depends on — corpus size, seed, analyzer
  version),
* per-partition lineage + metrics: one entry per output parquet file
  (task partition) with row count and byte size, read from the parquet
  footers — no extra Spark job,
* wall-clock seconds and row total.

``run_stage`` skips the build when a completed manifest with a matching
fingerprint exists (the Spark analogue of the reference's write-once
guard, /root/reference/main_disk.py:74-75 — `if not
posting_path.is_file()` — generalized to multi-stage resume). On a real
cluster the same ledger maps onto Iceberg snapshots/tags; parquet +
manifest is the sandbox stand-in.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "manifest.json"


def _collect_file_lineage(data_dir: str) -> list[dict]:
    """Per-partition lineage from parquet footers (no Spark job)."""
    import pyarrow.parquet as pq

    entries = []
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, name)
        meta = pq.ParquetFile(path).metadata
        entries.append(
            {
                "file": name,
                "rows": meta.num_rows,
                "bytes": os.path.getsize(path),
                "row_groups": meta.num_row_groups,
            }
        )
    return entries


def stage_is_complete(root: str, stage: str, fingerprint: str) -> bool:
    try:
        with open(os.path.join(root, stage, MANIFEST)) as fh:
            m = json.load(fh)
        return m.get("fingerprint") == fingerprint and m.get("complete") is True
    except (OSError, ValueError):
        return False


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    fingerprint: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Build-or-resume one stage; returns the stage output DataFrame
    (always read back from parquet so downstream lineage starts at the
    checkpoint, not at the in-memory plan)."""
    stage_dir = os.path.join(root, stage)
    data_dir = os.path.join(stage_dir, "data")
    if stage_is_complete(root, stage, fingerprint):
        return spark.read.parquet(data_dir)

    shutil.rmtree(stage_dir, ignore_errors=True)
    os.makedirs(stage_dir, exist_ok=True)
    t0 = time.time()
    df = build()
    df.write.mode("overwrite").parquet(data_dir)
    wall = time.time() - t0
    files = _collect_file_lineage(data_dir)

    manifest = {
        "stage": stage,
        "fingerprint": fingerprint,
        "complete": True,
        "rows": sum(e["rows"] for e in files),
        "n_partitions": len(files),
        "wall_s": round(wall, 3),
        "partitions": files,
    }
    tmp = os.path.join(stage_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, os.path.join(stage_dir, MANIFEST))
    # release any intermediate cache the builder registered (e.g.
    # docs_from_pages' two-pass ranking cache) — the checkpoint on disk
    # supersedes it
    cleanup = getattr(df, "_cleanup", None)
    if cleanup is not None:
        cleanup()
    return spark.read.parquet(data_dir)


def read_manifest(root: str, stage: str) -> dict:
    with open(os.path.join(root, stage, MANIFEST)) as fh:
        return json.load(fh)
