"""Seeded inputs for the benchmark: crawl states and query logs.

Everything here is a pure function of the seed, computed on the driver
from ``searchengine_spark.corpus`` — the program under test only ever
receives the generated pages and query strings.
"""

from __future__ import annotations

import datetime as dt
import random

from searchengine_spark.corpus import VOCAB, make_page

# Document-frequency bands over the corpus vocabulary. The generator
# draws body words Zipf(1/rank) over VOCAB, so rank order is df order:
# the head terms occur in most pages, the tail ones in a few percent.
HEAD, MID, TAIL = VOCAB[:25], VOCAB[25:90], VOCAB[90:]
_WORDS = set(VOCAB)
_RANKED_SHAPES = ((HEAD, MID), (MID, TAIL), (HEAD, MID, TAIL),
                  (MID, MID), (TAIL, TAIL, HEAD), (MID, TAIL, TAIL))
BOOLEAN_FORMS = ("and", "or", "not", "biword", "phrase3", "near")


class Crawl:
    """The live crawl state (page number -> latest page) and the text
    bytes committed so far, so the oracle can be rebuilt for any point
    in the run and write amplification has an exact denominator."""

    def __init__(self, seed: int, base_docs: int):
        self.seed = seed
        self.rng = random.Random(seed * 7_919 + 1)
        self.next_id = base_docs
        self.live = {i: make_page(i, seed) for i in range(base_docs)}
        self.ingested_bytes = sum(_text_bytes(p) for p in self.live.values())

    def delta(self, cycle: int, new_docs: int, recrawls: int) -> list[dict]:
        """``new_docs`` unseen urls plus ``recrawls`` live urls whose
        page changed text, all with a later crawl timestamp."""
        rows = {i: make_page(i, self.seed)
                for i in range(self.next_id, self.next_id + new_docs)}
        self.next_id += new_docs
        for i in self.rng.sample(sorted(self.live), recrawls):
            page = dict(self.live[i])
            fresh = make_page(i, self.seed * 31 + cycle + 1)
            page["text"], page["html"] = fresh["text"], fresh["html"]
            page["warc_ts"] = page["warc_ts"] + dt.timedelta(days=cycle + 1)
            rows[i] = page
        self.live.update(rows)
        self.ingested_bytes += sum(_text_bytes(p) for p in rows.values())
        return list(rows.values())

    def live_text_bytes(self) -> int:
        return sum(_text_bytes(p) for p in self.live.values())

    def texts_by_url(self) -> dict[str, str]:
        return {p["url"]: p["text"] for p in self.live.values()}


def _text_bytes(page: dict) -> int:
    return len(page["text"].encode("utf-8"))


def ranked_log(seed: int, n: int) -> list[str]:
    """``n`` ranked queries of 2-3 terms mixing the df bands."""
    rng = random.Random(seed * 104_729 + 2)
    out = []
    for i in range(n):
        shape = _RANKED_SHAPES[i % len(_RANKED_SHAPES)]
        words: list[str] = []
        for band in shape:
            words.append(rng.choice([w for w in band if w not in words]))
        out.append(" ".join(words))
    return out


def boolean_log(seed: int, n: int, pages: list[dict]) -> list[str]:
    """``n`` boolean queries cycling through AND, OR, NOT, a two-term
    (biword) phrase, a three-term positional phrase and NEAR/k.
    Phrases are cut from page bodies so they match something."""
    rng = random.Random(seed * 15_485_863 + 3)
    out = []
    for i in range(n):
        form = BOOLEAN_FORMS[i % len(BOOLEAN_FORMS)]
        a, b = rng.choice(HEAD + MID), rng.choice(MID + TAIL)
        if form == "and":
            out.append(f"{a} {b}")
        elif form == "or":
            out.append(f"{b} + {rng.choice(TAIL)}")
        elif form == "not":
            out.append(f"{a} -{b}")
        elif form == "near":
            out.append(f"[{a} NEAR/{rng.randint(2, 5)} {b}]")
        else:
            out.append('"' + _phrase(rng, pages, 2 if form == "biword" else 3)
                       + '"')
    return out


def _phrase(rng: random.Random, pages: list[dict], n: int) -> str:
    while True:
        words = rng.choice(pages)["text"].split("\n", 1)[-1].split(" ")
        start = rng.randrange(max(1, len(words) - n))
        cut = words[start:start + n]
        if len(cut) == n and all(w in _WORDS for w in cut):
            return " ".join(cut)
