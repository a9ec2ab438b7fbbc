"""The two workloads: ``serve`` and ``crawl_refresh``.

One client thread drives the program in a closed loop: each call is
issued after the previous result is collected. Reads are interleaved
in rounds of (ranked, boolean), with a replay batch every
``BATCH_EVERY`` rounds, so a burst of host contention lands on every
query type alike.
"""

from __future__ import annotations

import os
import time

import pandas as pd

from searchengine_spark.corpus import PAGES_SCHEMA, pages_df
from searchengine_spark.pipeline import refresh as R
from searchengine_spark.sources.snapshots import SnapshotTable

import inputs
import layers
from check import Oracle, check_batch_matches_single

K = 10
QUERIES = ("ranked", "boolean")
CALLS = QUERIES + ("batch", "commit", "refresh", "compaction", "build")

# Pages in the base crawl; pages in the crawl delta (half unseen urls,
# half re-crawled urls with changed text); queries per replay batch.
# crawl_refresh's delta puts the delete ratio at 0.235, over the
# default compaction policy's 0.2.
SIZES = {
    "serve": {"base": 500, "replay": 20},
    "crawl_refresh": {"base": 300, "delta": 80, "replay": 20},
}
TINY = {"base": 60, "delta": 20, "replay": 4}
# Untimed (ranked, boolean) pairs and replay batches before timing: the
# first call of a path pays Python-worker start-up and code generation
# (about 2x a warm call), and the next few are still on the JIT slope.
WARM_PAIRS, WARM_BATCHES = 1, 1
# A replay batch every BATCH_EVERY rounds, starting with the first.
BATCH_EVERY = 2
# The timed phase runs a fixed number of rounds: --seconds over the wall
# of one round (its batch share included) on a quiet 4-vCPU host, and at
# least MIN_ROUNDS. Every run then does the same work, with the same
# boolean forms at the same point of the JIT slope, and a slow host
# lengthens the run instead of cutting its samples.
ROUND_S = {"serve": 3.0, "crawl_refresh": 5.3}
MIN_ROUNDS = 3


class Bench:
    def __init__(self, spark, rec, seed: int, root: str, sizes: dict):
        self.spark, self.rec, self.seed, self.sizes = spark, rec, seed, sizes
        self.pages_root = os.path.join(root, "pages")
        self.index_root = os.path.join(root, "index")
        self.crawl = inputs.Crawl(seed, sizes["base"])
        pages = list(self.crawl.live.values())
        self.ranked = inputs.ranked_log(seed, 400)
        self.boolean = inputs.boolean_log(seed, 400, pages)
        self.replay = {f"q{i:03d}": q
                       for i, q in enumerate(self.ranked[:sizes["replay"]])}
        self.sample_pages = pages[:200]
        self.served: list[tuple] = []  # (state, kind, query, rows)
        self.states: list[dict[str, str]] = []  # live texts per state
        self.maintenance: list[dict] = []  # maintenance_stats as read
        self.plans: list[tuple[int, int]] = []  # traced: files kept/skipped
        self.compactions = 0
        self.delta_docs = 0
        self.pages_s = self.warm_s = 0.0
        self._next = 0

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        SnapshotTable(self.pages_root).commit(
            pages_df(self.spark, self.sizes["base"], seed=self.seed),
            mode="overwrite")
        self.pages_s = time.perf_counter() - t0
        self.rec.call("build", R.build_pages_index, self.spark,
                      self.pages_root, self.index_root)
        if "build" not in self.rec.samples:
            raise RuntimeError("base build failed")
        self._new_state()

    def warm(self) -> None:
        """Untimed reads on the index as it will be timed, with queries
        from the far end of the logs."""
        t0 = time.perf_counter()
        for i in range(1, WARM_PAIRS + 1):
            R.refreshed_topk(self.spark, self.index_root, self.ranked[-i],
                             k=K).collect()
            R.refreshed_boolean(self.spark, self.index_root,
                                self.boolean[-i]).collect()
        for _ in range(WARM_BATCHES):
            R.refreshed_topk_batch(self.spark, self.index_root,
                                   self.replay, k=K).collect()
        self.warm_s += time.perf_counter() - t0

    # -- timed steps ------------------------------------------------------------

    def _new_state(self) -> None:
        self.states.append(self.crawl.texts_by_url())

    def read_round(self) -> None:
        """One interleaved round: a ranked query, a boolean query, and
        every BATCH_EVERY rounds a replay of the query log through the
        batch path."""
        i = self._next
        self._next += 1
        state = len(self.states) - 1
        q = self.ranked[i % len(self.ranked)]
        rows = self.rec.query("ranked", R.refreshed_topk, self.spark,
                              self.index_root, q, k=K)
        if rows is not None:
            self.served.append((state, "ranked", q,
                                [(r.doc_id, r.score) for r in rows]))
        if self.rec.traced:
            self.plans.append(layers.plan_counts(self.index_root, q))
        b = self.boolean[i % len(self.boolean)]
        rows = self.rec.query("boolean", R.refreshed_boolean, self.spark,
                              self.index_root, b)
        if rows is not None:
            self.served.append((state, "boolean", b,
                                [r.doc_id for r in rows]))
        if i % BATCH_EVERY:
            return
        rows = self.rec.query("batch", R.refreshed_topk_batch, self.spark,
                              self.index_root, self.replay, k=K)
        if rows is not None:
            # keyed by query_id: the log may hold a query string twice
            by_qid: dict[str, list] = {}
            for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
                by_qid.setdefault(r.query_id, []).append(
                    (r.doc_id, r.score))
            self.served.append((state, "batch", None, by_qid))

    def read_rounds(self, rounds: int) -> None:
        for _ in range(rounds):
            self.read_round()

    def note_maintenance(self) -> None:
        """The index's maintenance stats as the timed reads saw it."""
        self.maintenance.append(R.maintenance_stats(self.index_root))

    def crawl_cycle(self, cycle: int, rounds: int) -> None:
        """Commit a crawl delta, refresh the index from it, serve a read
        burst over the delta-layered index, then let the maintenance
        policy decide on a compaction."""
        with self.rec.span("cycle", cycle):
            half = self.sizes["delta"] // 2
            rows = self.crawl.delta(cycle, half, half)
            frame = self.spark.createDataFrame(pd.DataFrame(rows),
                                               PAGES_SCHEMA)
            self.rec.call("commit", SnapshotTable(self.pages_root).commit,
                          frame)
            if self.rec.call("refresh", R.refresh_pages_index, self.spark,
                             self.pages_root, self.index_root) is not None:
                self.delta_docs += len(rows)
            self._new_state()
            self.warm()
            with self.rec.span("burst", cycle):
                self.read_rounds(rounds)
            self.note_maintenance()
            out = self.rec.call("compaction", R.maybe_rewrite_pages_index,
                                self.spark, self.index_root)
            fired = out is not None and out[0]
            if out is not None and not fired:
                # the policy declined: the wall was a metadata check,
                # not a compaction
                self.rec.samples["compaction"].pop()
            self.compactions += fired

    # -- results ------------------------------------------------------------------

    def check(self) -> int:
        """Compare every served result with the oracle of the crawl
        state it was served from; returns the number of results
        checked. Raises ``check.Mismatch``."""
        doc_ids = {r.url: r.doc_id for r in SnapshotTable(
            os.path.join(self.index_root, "docstats")).read(
                self.spark).select("url", "doc_id").collect()}
        oracles: dict[int, Oracle] = {}
        final = len(self.states) - 1
        singles = {(s, q): r for s, k, q, r in self.served if k == "ranked"}
        checked = 0
        for state, kind, query, rows in self.served:
            if state not in oracles:
                # doc_ids hash the url and urls never leave the crawl,
                # so the final docstats table keys every earlier state
                texts = self.states[state]
                oracles[state] = Oracle(texts, doc_ids if state == final
                                        else {u: doc_ids[u] for u in texts})
            oracle = oracles[state]
            if kind == "ranked":
                oracle.check_ranked(query, rows, K)
            elif kind == "boolean":
                oracle.check_boolean(query, rows)
            else:
                for qid, got in rows.items():
                    q = self.replay[qid]
                    oracle.check_ranked(q, got, K)
                    if (state, q) in singles:
                        check_batch_matches_single(q, got,
                                                   singles[state, q])
            checked += 1
        return checked


def run(workload: str, spark, rec, seed: int, seconds: float, root: str,
        process_start: float, tiny: bool = False) -> tuple[Bench, dict]:
    """Set up, then run the workload's timed phase; returns the bench
    and the phase walls."""
    sizes = {**SIZES[workload], **(TINY if tiny else {})}
    bench = Bench(spark, rec, seed, root, sizes)
    rounds = max(MIN_ROUNDS, round(seconds / ROUND_S[workload]))
    walls = {"session_s": time.perf_counter() - process_start}
    bench.setup()
    built = time.perf_counter() - process_start
    t0 = time.perf_counter()
    if workload == "serve":
        bench.warm()
        with rec.span("reads"):
            bench.read_rounds(rounds)
        bench.note_maintenance()
    else:
        # reads over the delta-layered index (warmed on it first), then
        # the default policy compacts
        bench.crawl_cycle(1, rounds)
    # set-up: JVM start, page generation and commit, base build, read
    # warm-up
    walls["pages_s"] = bench.pages_s
    walls["setup_s"] = built + bench.warm_s
    walls["timed_s"] = time.perf_counter() - t0
    return bench, walls
