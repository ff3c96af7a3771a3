"""Output checks: a NumPy float64 exact top-k oracle over the generated
corpus, the per-reply checks built on it, and a failure ledger.

A wrong answer is recorded by kind and never aborts the run; the
ledger's ``failed / attempted`` is the run's error rate.
"""

from __future__ import annotations

import threading
from collections import Counter

import numpy as np

SCORE_TOL = 1e-6


class Oracle:
    """Exact cosine similarity over the generated vectors (row i = id i)."""

    def __init__(self, vectors: np.ndarray):
        v = vectors.astype(np.float64)
        self.unit = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)

    @staticmethod
    def _unit(query) -> np.ndarray:
        q = np.asarray(query, dtype=np.float64)
        return q / np.linalg.norm(q)

    def scores(self, query, ids) -> np.ndarray:
        return self.unit[np.asarray(ids, dtype=np.int64)] @ self._unit(query)

    def topk(self, query, live: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, scores) of the exact top-k among ``live`` ids, best first,
        ties by ascending id."""
        # score every row, then pick the live ones: cheaper than gathering
        # the live rows first
        s = (self.unit @ self._unit(query))[live]
        cand = np.argpartition(-s, k - 1)[:k] if len(s) > k else np.arange(len(s))
        # keep every id tied with the k-th score so the tie-break is exact
        cand = np.flatnonzero(s >= s[cand].min())
        order = cand[np.lexsort((live[cand], -s[cand]))][:k]
        return live[order], s[order]


def check_ranked(
    oracle: Oracle,
    query,
    ids: list[int],
    scores: list[float],
    k: int,
    allowed: np.ndarray | None = None,
) -> str | None:
    """Checks that hold for any (approximate or exact) top-k reply: k
    distinct ids, every id allowed (``allowed`` is a boolean mask over
    all ids), every score equal to the id's exact score, best first.
    Returns the failure kind or None."""
    if len(ids) != k or len(set(ids)) != len(ids):
        return "wrong_count"
    if allowed is not None and not all(0 <= i < len(allowed) and allowed[i] for i in ids):
        return "unknown_id"
    exact = oracle.scores(query, ids)
    got = np.asarray(scores, dtype=np.float64)
    if not np.all(np.abs(exact - got) <= SCORE_TOL):
        return "wrong_score"
    if np.any(np.diff(got) > SCORE_TOL):
        return "wrong_order"
    return None


def check_exact(
    oracle: Oracle, query, ids: list[int], scores: list[float], live: np.ndarray, k: int
) -> str | None:
    """An exact reply: the ranked checks, plus the returned scores match
    the exact top-k scores and every id scoring clearly above the k-th
    is present (tolerant of ties at the boundary)."""
    mask = np.zeros(len(oracle.unit), dtype=bool)
    mask[live] = True
    bad = check_ranked(oracle, query, ids, scores, k, mask)
    if bad:
        return bad
    want_ids, want_scores = oracle.topk(query, live, k)
    if not np.all(np.abs(np.asarray(scores) - want_scores) <= SCORE_TOL):
        return "wrong_topk"
    must = want_ids[want_scores > want_scores[-1] + SCORE_TOL]
    if not set(must.tolist()) <= set(ids):
        return "wrong_topk"
    return None


def recall(oracle: Oracle, query, ids: list[int], live: np.ndarray, k: int) -> float:
    want, _ = oracle.topk(query, live, k)
    return len(set(want.tolist()) & set(ids)) / k


class Ledger:
    """Thread-safe count of attempted operations and failures by kind."""

    def __init__(self):
        self._lock = threading.Lock()
        self.attempted = 0
        self.failures: Counter = Counter()

    def attempt(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def fail(self, kind: str) -> None:
        with self._lock:
            self.failures[kind] += 1

    @property
    def failed(self) -> int:
        return sum(self.failures.values())

    @property
    def error_rate(self) -> float:
        return self.failed / max(self.attempted, 1)
