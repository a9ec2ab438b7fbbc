"""Correctness check against the pure-Python oracle.

Runs after timing and untimed. The oracle (``oracle/engine.py``) is
rebuilt over the live crawl state and keyed by the url-hash doc_ids the
docstats table holds, so it shares no serving code with the paths it
checks. A mismatch raises ``Mismatch`` with the query and both answers.
"""

from __future__ import annotations

from searchengine_spark.oracle.engine import (
    boolean_query_docs,
    build_index,
    rank,
)

SCORE_TOL = 1e-9


class Mismatch(AssertionError):
    pass


class Oracle:
    def __init__(self, texts_by_url: dict[str, str],
                 doc_id_by_url: dict[str, int]):
        if set(texts_by_url) != set(doc_id_by_url):
            raise Mismatch(
                f"docstats holds {len(doc_id_by_url)} urls, the crawl "
                f"state {len(texts_by_url)}; they differ on "
                f"{len(set(texts_by_url) ^ set(doc_id_by_url))}")
        self.idx = build_index([(doc_id_by_url[u], t)
                                for u, t in texts_by_url.items()])
        self._scores: dict[str, dict[int, float]] = {}

    def scores(self, query: str) -> dict[int, float]:
        if query not in self._scores:
            self._scores[query] = {
                d: s for s, d in rank(self.idx, query, "bm25",
                                      k=self.idx.n_docs)}
        return self._scores[query]

    def check_ranked(self, query: str, got: list[tuple[int, float]],
                     k: int) -> None:
        """``got`` is [(doc_id, score)] in served order. Every served doc
        must carry its oracle score, and the served score sequence must
        be the oracle's top-k score sequence (ties at equal score may
        order either way only within 1e-9)."""
        truth = self.scores(query)
        want = sorted(truth.values(), reverse=True)[:k]
        if len(got) != len(want):
            raise Mismatch(f"ranked {query!r}: {len(got)} rows, oracle "
                           f"{len(want)}")
        for pos, ((doc, score), ref) in enumerate(zip(got, want)):
            if doc not in truth or abs(truth[doc] - score) > SCORE_TOL \
                    or abs(score - ref) > SCORE_TOL:
                raise Mismatch(
                    f"ranked {query!r} rank {pos + 1}: served "
                    f"({doc}, {score!r}), oracle score of that doc "
                    f"{truth.get(doc)!r}, oracle score at that rank {ref!r}")

    def check_boolean(self, query: str, got: list[int]) -> None:
        want = boolean_query_docs(self.idx, query)
        if sorted(got) != want:
            raise Mismatch(f"boolean {query!r}: served {len(got)} docs, "
                           f"oracle {len(want)}; differing "
                           f"{sorted(set(got) ^ set(want))[:5]}")


def check_batch_matches_single(query: str,
                               batch: list[tuple[int, float]],
                               single: list[tuple[int, float]]) -> None:
    """The replay rows of a query equal its single-query rows: the same
    score sequence, and the same docs above the score tied at rank k
    (docs tied there within 1e-9 may differ by summation order)."""
    floor = single[-1][1] + SCORE_TOL if single else 0.0
    if len(single) != len(batch) or any(
            abs(a - b) > SCORE_TOL
            for (_, a), (_, b) in zip(single, batch)) or \
            {d for d, s in single if s > floor} != \
            {d for d, s in batch if s > floor}:
        raise Mismatch(f"batch rows for {query!r} differ from "
                       f"refreshed_topk: {batch[:3]} vs {single[:3]}")
