"""Timing, spans and host counters kept by the benchmark itself.

Every public call the benchmark makes goes through ``Recorder``: the
wall is kept as a raw sample, a failure is counted (never retried or
dropped), and in a traced run a span (name, id, parent, start, end) is
kept in memory and the Spark jobs the call starts are tagged with the
span id through a local property, so the event log can be attributed
exactly. Spans are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import sys
import time
import traceback

SPAN_PROPERTY = "perfbench.span"


class InjectedFailure(RuntimeError):
    """Raised in place of a program call when a fault is injected."""


class Recorder:
    def __init__(self, spark, traced: bool, fail_first: str | None = None):
        self.spark = spark
        self.traced = traced
        self.samples: dict[str, list[float]] = {}
        self.spans: list[dict] = []
        self.phases: list[dict] = []  # Catalyst phase ms per query
        self.attempted = 0
        self.failed = 0
        self._stack: list[int] = []
        self._fail_first = fail_first

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, ident=None):
        """A parent span grouping calls (a round, a cycle, a burst)."""
        if not self.traced:
            yield
            return
        sid = self._open(name, ident)
        try:
            yield
        finally:
            self._close(sid)

    def _open(self, name: str, ident=None) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "ident": ident,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        })
        self._stack.append(sid)
        self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, str(sid))
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.pop()
        self.spark.sparkContext.setLocalProperty(
            SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    # -- timed calls ---------------------------------------------------------

    def _inject(self, name: str) -> None:
        if self._fail_first == name:
            self._fail_first = None
            raise InjectedFailure(f"injected failure in {name}")

    def call(self, name: str, fn, *args, **kwargs):
        """Time ``fn(*args)``; return its result, or None if it raised."""
        self.attempted += 1
        sid = self._open(name) if self.traced else None
        t0 = time.perf_counter()
        try:
            self._inject(name)
            out = fn(*args, **kwargs)
        except Exception:  # a benchmark keeps running; the failure counts
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            wall = time.perf_counter() - t0
            if sid is not None:
                self._close(sid)
        self.samples.setdefault(name, []).append(wall)
        return out

    def query(self, name: str, fn, *args, **kwargs):
        """Time ``fn(*args).collect()`` as one sample; in a traced run
        also split it into ``call`` (until the DataFrame is returned)
        and ``collect`` child spans and read the Catalyst phases."""
        self.attempted += 1
        sid = self._open(name) if self.traced else None
        t0 = time.perf_counter()
        try:
            self._inject(name)
            if sid is None:
                rows = fn(*args, **kwargs).collect()
            else:
                with self.span("call"):
                    df = fn(*args, **kwargs)
                with self.span("collect"):
                    rows = df.collect()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            wall = time.perf_counter() - t0
            if sid is not None:
                self._close(sid)
        self.samples.setdefault(name, []).append(wall)
        if sid is not None:
            self.phases.append({"span": sid, **catalyst_phases(df)})
        return rows

    # -- derived -------------------------------------------------------------

    def self_times(self) -> None:
        """Add ``self`` to every span: its duration minus the union of
        its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        for s in self.spans:
            s["self"] = (s["end"] - s["start"]) - union_length(
                children.get(s["id"], []))


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning ms from the DataFrame's own
    QueryPlanningTracker (phases Spark has not run are absent)."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {f"{k}_ms": float(phases.apply(k).durationMs())
            for k in ("analysis", "optimization", "planning")
            if phases.contains(k)}


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_fractions(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1  # user..steal; guest time is inside user
    idle = d[3] + d[4]
    return {"host.steal_frac": d[7] / total,
            "host.busy_frac": (total - idle) / total}


def peak_rss_mb(pids: list[int]) -> float:
    """Summed VmHWM (peak resident set) of the given processes."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0
