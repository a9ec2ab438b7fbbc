"""Per-layer measurements, all taken from outside the program: snapshot
manifests, Spark's event log, and timed calls into each layer's public
functions over fixed samples."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from searchengine_spark.indexing.build import term_bucket
from searchengine_spark.pipeline import refresh as R
from searchengine_spark.queries.ranked import query_rank_terms
from searchengine_spark.sources.snapshots import SnapshotTable
from searchengine_spark.text.tokenizer import analyze_document

from recorder import SPAN_PROPERTY, union_length

# -- snapshot manifests ------------------------------------------------------


def _tables(index_root: str) -> list[SnapshotTable]:
    return [SnapshotTable(index_root),
            SnapshotTable(os.path.join(index_root, "docstats"))]


def bytes_written(index_root: str) -> int:
    """Bytes of every data and delete file any snapshot of the index
    and docstats tables ever referenced (no snapshot is expired during
    a run, so this is every file written)."""
    total = 0
    for tbl in _tables(index_root):
        seen: dict[str, int] = {}
        for man in tbl.history():
            for f in man["data_files"] + man.get("delete_files", []):
                seen[f["path"]] = f["bytes"]
        total += sum(seen.values())
    return total


def live_index_bytes(index_root: str) -> int:
    tbl = SnapshotTable(index_root)
    man = tbl.manifest(tbl.current_version())
    return sum(f["bytes"]
               for f in man["data_files"] + man.get("delete_files", []))


def commit_walls(index_root: str) -> list[float]:
    """The program's own per-commit write wall, from every manifest."""
    return [man["write_wall_s"]
            for tbl in _tables(index_root) for man in tbl.history()]


def plan_counts(index_root: str, query: str) -> tuple[int, int]:
    """(files planned, files skipped) for a ranked query's bucket
    predicate at the current snapshot."""
    tbl = SnapshotTable(index_root)
    tb = tbl.properties()["term_buckets"]
    buckets = sorted({term_bucket(t, tb) for t in query_rank_terms(query)})
    plan = tbl.plan_files([("bucket", "in", buckets)])
    return plan["kept_files"], plan["skipped_files"]


# -- layer probes over fixed samples -------------------------------------------


def _median_wall(fn, repeats: int = 3) -> tuple[float, object]:
    walls, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def probe_layers(spark, index_root: str, sample_pages: list[dict]) -> dict:
    """Isolated timings of the analyzer, the Arrow ingest path, segment
    decode and manifest reads."""
    import pandas as pd
    from pyspark.sql import functions as F

    from searchengine_spark.corpus import PAGES_SCHEMA
    from searchengine_spark.streaming.ingest import analyze_pages

    texts = [p["text"] for p in sample_pages]
    wall, _ = _median_wall(lambda: [analyze_document(t) for t in texts])
    out = {"text.docs_per_s": len(texts) / wall}

    # sum the postings so column pruning cannot skip the analyzer UDF
    sample = spark.createDataFrame(pd.DataFrame(sample_pages), PAGES_SCHEMA)
    out["ingest.analyze_s"], _ = _median_wall(
        lambda: analyze_pages(sample).select(
            F.sum(F.size("postings"))).collect())

    wall, n = _median_wall(lambda: R.published_postings(
        spark, index_root, None, with_positions=True).count())
    tbl = SnapshotTable(index_root)
    man = tbl.manifest(tbl.current_version())
    out["segments.decode_s"] = wall
    out["segments.postings_decoded"] = n
    out["segments.bytes_per_posting"] = \
        sum(f["bytes"] for f in man["data_files"]) / max(n, 1)

    version = tbl.current_version()
    out["snapshots.manifest_read_s"], _ = _median_wall(
        lambda: tbl.manifest(version), repeats=25)
    return out


# -- Spark event log -------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_by_span(events: list[dict]) -> dict[int, dict]:
    """Per tagged span: job intervals and summed stage/task metrics."""
    job_span, job_iv, stage_job = {}, {}, {}
    per: dict[int, dict] = {}

    def acc(sid: int) -> dict:
        return per.setdefault(sid, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "job_intervals": []})

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            if sid is None:
                continue
            job_span[ev["Job ID"]] = int(sid)
            job_iv[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            for st in ev["Stage IDs"]:
                stage_job[st] = ev["Job ID"]
            acc(int(sid))["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            acc(job_span[ev["Job ID"]])["job_intervals"].append(
                (job_iv[ev["Job ID"]], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            job = stage_job.get(ev["Stage Info"]["Stage ID"])
            if job is not None:
                acc(job_span[job])["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            a = acc(job_span[job])
            a["tasks"] += 1
            a["task_cpu_s"] += m["Executor CPU Time"] / 1e9
            a["gc_s"] += m["JVM GC Time"] / 1000.0
            a["shuffle_write_bytes"] += \
                m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            a["spill_bytes"] += m["Memory Bytes Spilled"] \
                + m["Disk Bytes Spilled"]
    return per


def spark_metrics(spans: list[dict], per_span: dict[int, dict],
                  calls: tuple[str, ...], queries: tuple[str, ...]
                  ) -> tuple[dict, dict]:
    """(per-layer metrics, per-phase sums). A call's jobs are those
    tagged with its span or a descendant (``call``/``collect``); driver
    idle is a query's wall minus the union of its job intervals."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    keys = ("jobs", "stages", "tasks", "task_cpu_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes")
    phases: dict[str, dict] = {}
    per_query, idle = [], []
    for s in spans:
        if s["name"] not in calls:
            continue
        tot = dict.fromkeys(keys, 0)
        ivs = []
        todo = [s["id"]]
        while todo:
            cur = todo.pop()
            todo.extend(kids.get(cur, []))
            got = per_span.get(cur, {})
            for k in keys:
                tot[k] += got.get(k, 0)
            ivs.extend(got.get("job_intervals", []))
        ph = phases.setdefault(s["name"], {"calls": 0, "wall_s": 0.0,
                                           **dict.fromkeys(keys, 0)})
        ph["calls"] += 1
        ph["wall_s"] += s["end"] - s["start"]
        for k in keys:
            ph[k] += tot[k]
        if s["name"] in queries:
            per_query.append(tot)
            clipped = [(max(a, s["start"]), min(b, s["end"]))
                       for a, b in ivs]
            idle.append((s["end"] - s["start"]) - union_length(
                [iv for iv in clipped if iv[1] > iv[0]]))
    n = max(len(per_query), 1)
    timed = [p for name, p in phases.items() if name != "build"]
    out = {f"spark.{k}_per_query": sum(q[k] for q in per_query) / n
           for k in ("jobs", "stages", "tasks")}
    for k in keys[3:]:
        out[f"spark.{k}"] = sum(p[k] for p in timed)
    out["spark.driver_idle_s"] = statistics.median(idle) if idle else 0.0
    return out, phases
