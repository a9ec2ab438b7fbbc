"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with spans, Catalyst
phases and Spark's event log on, and prints the per-layer metrics instead. Each
run leaves its full record (every raw sample wall, host CPU steal, the
correctness count; in a traced run the per-phase Spark sums and the
tracing overhead) under ``.bench_out/<workload>/``, and a traced run
also its spans as JSON lines. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "1g"


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _pin_env(run_dir: str, traced: bool) -> None:
    """The program's own env settings, pinned, plus a benchmark-owned
    SPARK_CONF_DIR that, for a traced run only, turns on a plain-JSON
    event log. Every JVM (the launcher and the driver) keeps its temp
    files in the run directory and writes no /tmp/hsperfdata file."""
    tmp = os.path.join(run_dir, "tmp")
    conf = os.path.join(run_dir, "conf")
    for d in (tmp, conf, os.path.join(run_dir, "local")):
        os.makedirs(d)
    lines = []
    if traced:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{events}",
                  "spark.eventLog.compress false",
                  "spark.eventLog.rolling.enabled false"]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_CONF_DIR": conf,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(bench, rec, walls: dict, rss_mb: float) -> dict:
    import layers

    s = rec.samples
    crawl = bench.crawl
    med = statistics.median
    return {
        "setup_s": walls["setup_s"],
        "build_docs_per_s": bench.sizes["base"] / s["build"][0],
        "ranked_p50_s": med(s["ranked"]),
        "boolean_p50_s": med(s["boolean"]),
        "replay_qps": len(bench.replay) / med(s["batch"]),
        "write_amplification": layers.bytes_written(bench.index_root)
        / crawl.ingested_bytes,
        "space_amplification": layers.live_index_bytes(bench.index_root)
        / crawl.live_text_bytes(),
        "peak_rss_mb": rss_mb,
    }


def _recorded(bench, rec) -> dict:
    """End-to-end numbers kept in the run's record but not gated (see
    README.md): the p90s, and refresh throughput and compaction wall
    where the run did them (crawl_refresh)."""
    s = rec.samples
    out = {"ranked_p90_s": _p90(s["ranked"]),
           "boolean_p90_s": _p90(s["boolean"])}
    if s.get("refresh"):
        out["refresh_docs_per_s"] = bench.delta_docs / sum(s["refresh"])
    if s.get("compaction"):
        out["compaction_s"] = statistics.median(s["compaction"])
    return out


def per_layer(bench, rec, probes: dict, host: dict,
              event_dir: str) -> tuple[dict, dict]:
    import layers
    from workloads import CALLS, QUERIES

    s = rec.samples
    med = statistics.median
    maint = bench.maintenance
    spans = rec.spans
    out = dict(probes)
    out.update({
        "snapshots.commit_s": med(layers.commit_walls(bench.index_root)),
        "snapshots.files_planned": med(p[0] for p in bench.plans),
        "snapshots.files_skipped": med(p[1] for p in bench.plans),
        "snapshots.data_files": med(m["data_files"] for m in maint),
        "snapshots.delete_files": med(m["delete_files"] for m in maint),
        "snapshots.bytes_written": layers.bytes_written(bench.index_root),
        "refresh.build_s": s["build"][0],
        # summed walls: 0 on serve, which never refreshes or compacts
        "refresh.refresh_s": sum(s.get("refresh", [])),
        "refresh.rewrite_s": sum(s.get("compaction", [])),
        "refresh.delta_commits": med(m["delta_commits"] for m in maint),
        "refresh.delete_rows": med(m["delete_rows"] for m in maint),
        "refresh.delete_ratio": med(m["delete_ratio"] for m in maint),
        "refresh.compactions": bench.compactions,
    })
    parents = {s_["id"]: s_["name"] for s_ in spans}
    for part in ("call", "collect"):
        walls = [x["end"] - x["start"] for x in spans
                 if x["name"] == part and parents[x["parent"]] in QUERIES]
        out[f"queries.{part}_s"] = med(walls)
    qids = {x["id"] for x in spans if x["name"] in QUERIES}
    for ph in ("analysis", "optimization", "planning"):
        vals = [p[f"{ph}_ms"] for p in rec.phases
                if p["span"] in qids and f"{ph}_ms" in p]
        out[f"queries.{ph}_ms"] = med(vals)
    spark_out, phases = layers.spark_metrics(
        spans, layers.spark_by_span(layers.read_event_log(event_dir)),
        CALLS, QUERIES)
    out.update(spark_out)
    out.update(host)
    return out, phases


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve", "crawl_refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test hooks for the smoke test: tiny sizes, and an injected fault
    # (a failed ranked call, or a wrong ranked result)
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--fault", choices=("error", "wrong"),
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "searchengine_spark",
                                       "__init__.py")):
        print(f"perfbench: no searchengine_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".bench_out", args.workload)
    run_dir = os.path.join(ROOT, ".bench_run",
                           f"{args.workload}-s{args.seed}-t{args.trace}"
                           f"-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    try:
        _pin_env(run_dir, bool(args.trace))
        record = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(run_dir))

    name = os.path.join(out_dir, f"seed{args.seed}-trace{args.trace}")
    if args.trace:
        untraced = name[:-1] + "0.json"
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            record["tracing_overhead"] = {
                k: record["end_to_end"][k] - v for k, v in base.items()}
        with open(os.path.join(out_dir, f"seed{args.seed}-spans.jsonl"),
                  "w") as fh:
            for span in record.pop("spans"):
                fh.write(json.dumps(span) + "\n")
    with open(name + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    shown = record["per_layer"] if args.trace else record["end_to_end"]
    print(json.dumps({
        "correct": record["correct"], "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in shown.items()}}))
    return 0 if record["correct"] else 1


def measure(args, run_dir: str) -> dict:
    """Start Spark, run the workload, check it, and return the run's
    record. Spark is stopped (and its JVM reaped) before returning."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import recorder
    import workloads
    from check import Mismatch
    from searchengine_spark.session import get_spark

    traced = bool(args.trace)
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=CPUS)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rec = recorder.Recorder(spark, traced,
                            "ranked" if args.fault == "error" else None)
    try:
        cpu0 = recorder.cpu_times()
        bench, walls = workloads.run(args.workload, spark, rec, args.seed,
                                     args.seconds, run_dir, PROCESS_START,
                                     tiny=args.tiny)
        host = recorder.host_fractions(cpu0, recorder.cpu_times())
        rss = recorder.peak_rss_mb([os.getpid(), jvm_pid])
        e2e = end_to_end(bench, rec, walls, rss)
        if args.fault == "wrong":
            _corrupt(bench)
        correct, mismatch, checked = True, None, 0
        try:
            checked = bench.check()
        except Mismatch as exc:
            correct, mismatch = False, str(exc)
            print(f"perfbench: WRONG RESULT: {exc}", file=sys.stderr)
        if traced:
            import layers

            probes = layers.probe_layers(spark, bench.index_root,
                                         bench.sample_pages)
    finally:
        _stop(spark)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "sizes": bench.sizes, "walls": walls, "host": host,
        "attempted": rec.attempted, "failed": rec.failed,
        "error_rate": rec.failed / max(rec.attempted, 1),
        "correct": correct, "mismatch": mismatch, "checked": checked,
        "end_to_end": e2e, "recorded": _recorded(bench, rec),
        "samples": rec.samples,
        "maintenance": bench.maintenance,
    }
    if traced:
        rec.self_times()
        record["per_layer"], record["spark_phases"] = per_layer(
            bench, rec, probes, host, os.path.join(run_dir, "events"))
        record["spans"] = rec.spans
    return record


def _corrupt(bench) -> None:
    """Fault hook: shift the top score of the first ranked result."""
    for i, (state, kind, q, rows) in enumerate(bench.served):
        if kind == "ranked" and rows:
            doc, score = rows[0]
            bench.served[i] = (state, kind, q, [(doc, score + 1e-3)]
                               + rows[1:])
            return


if __name__ == "__main__":
    sys.exit(main())
