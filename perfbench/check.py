"""Answer checking against ``index/oracle.py`` and the benchmark's summary
statistics.

The engine's answers are compared after the timed loop, never inside it.
``Snapshots`` replays the run's writes on the oracle side: appends admit only
urls never staged before (re-sends are ignored, re-sends of deleted urls stay
deleted), deletes remove live urls. Raw top-k (``topk_batch``) must be
rank-identical with scores within 1e-9; ``api.search`` answers go through
``expected_search``, an independent model of its post-retrieval steps.
"""

from __future__ import annotations

import datetime as dt
import math
import re

import numpy as np

SCORE_TOL = 1e-9
# api.search rounds displayed scores to 2 decimals
DISPLAY_TOL = 0.005 + SCORE_TOL
K = 10
K_CONTEXTS = 5
LATEST_MAX = 2.0
RELATIVE_RATIO = 1.5
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values):
    return float(np.median(values)) if len(values) else None


def tail(values) -> tuple[float, float] | None:
    """``(percentile, value)`` for the highest ladder percentile that has at
    least ten samples beyond it (nearest rank), or None below 20 samples."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        rank = math.ceil(p / 100.0 * n)  # 1-based nearest rank
        if n - rank >= 10:
            best = (p, float(sorted(values)[rank - 1]))
    return best


def unsigned(doc_id: int) -> int:
    return doc_id & 0xFFFFFFFFFFFFFFFF


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Rank-identical doc ids, scores within SCORE_TOL."""
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_TOL for g, w in zip(got, want)
    )


def same_search(refs: list[dict], want: list[tuple[int, float]]) -> bool:
    """api.search references against ``expected_search``: same doc ids in the
    same order, displayed scores equal up to their 2-decimal rounding."""
    return len(refs) == len(want) and all(
        r["doc_id"] == w[0] and abs(r["score"] - w[1]) <= DISPLAY_TOL
        for r, w in zip(refs, want)
    )


def expected_search(top: list[tuple[int, float]], meta: dict, question: str, now: str):
    """api.search's answer derived from the oracle's raw top-k: score floor
    0, first-wins dedup on (title, date), logistic recency decay, relative
    score filter, head K_CONTEXTS. Returns ``[(doc_id, score)]`` with the
    unrounded decayed score."""
    lw = LATEST_MAX if re.search("(recent)|(latest)", question.lower()) else LATEST_MAX / 2
    today = dt.date.fromisoformat(now)
    seen, rows = set(), []
    for doc_id, score in top:  # already score desc, unsigned doc_id asc
        title, date = meta[doc_id]
        if score < 0 or (title, date) in seen:
            continue
        seen.add((title, date))
        days = float((today - date).days)
        coef = (1.5 - 1.0 / (1.0 + math.exp(-days / (400.0 / lw)))) ** lw
        rows.append((doc_id, score * coef))
    rows.sort(key=lambda r: (-r[1], unsigned(r[0])))
    if not rows:
        return []
    best = rows[0][1]
    return [r for r in rows if r[1] >= best / RELATIVE_RATIO][:K_CONTEXTS]


class Snapshots:
    """The oracle side of the run: one live url set per committed write, and
    the oracle's answers on each."""

    def __init__(self, inputs):
        self.inputs = inputs
        docs = inputs.docs
        self.meta = {
            int(d): (t, dt.date.fromisoformat(str(x)))
            for d, t, x in zip(docs["doc_id"], docs["title"], docs["date"])
        }
        base = set(inputs.base_urls)
        self.staged = set(base)
        self.live = [frozenset(base)]  # live[j] = urls after j writes
        self._oracles: dict[int, object] = {}

    @property
    def current(self) -> int:
        return len(self.live) - 1

    def append(self, i: int) -> None:
        fresh = [u for u in self.inputs.fresh_urls(i) + self.inputs.resend_urls(i) if u not in self.staged]
        self.staged.update(fresh)
        self.live.append(self.live[-1] | frozenset(fresh))

    def delete(self, i: int) -> None:
        self.live.append(self.live[-1] - frozenset(self.inputs.delete_urls(i)))

    def _oracle(self, snap: int):
        if snap not in self._oracles:
            from statschat_ke_spark.index.oracle import OracleIndex

            docs = self.inputs.docs
            self._oracles = {snap: OracleIndex(docs[docs["url"].isin(self.live[snap])])}
        return self._oracles[snap]

    def topk(self, snap: int, question: str) -> list[tuple[int, float]]:
        t = self._oracle(snap).topk(question, K)
        return [(int(d), float(s)) for d, s in zip(t["doc_id"], t["score"])]

    def search(self, snap: int, question: str, now: str):
        return expected_search(self.topk(snap, question), self.meta, question.strip(), now)
