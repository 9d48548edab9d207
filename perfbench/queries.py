"""Seeded query generator.

Follows the shapes of the reference query set (q1..q7 in ``bench.py``):

    q1 bag of three words    q5 phrase of two adjacent words
    q2 ``a AND b``           q6 bag of four words
    q3 ``a OR b``            q7 one word
    q4 ``a NOT b``

in equal proportions.  Words are drawn with Zipf popularity over the words
the corpus actually contains, so both head posting lists (a large share of
the corpus) and tail ones (a document or two) are queried.  Phrases are
taken from adjacent pairs that occur in the corpus, so they match.
"""

from __future__ import annotations

import numpy as np

from corpus import Corpus, word

SHAPES = ("q1", "q2", "q3", "q4", "q5", "q6", "q7")
QUERY_ZIPF_S = 0.9


class QueryGen:
    def __init__(self, corpus: Corpus, seed: int):
        self.rng = np.random.default_rng(seed + 7_919)
        self.present = np.flatnonzero(corpus.df > 0)  # ranks, ascending
        w = 1.0 / np.arange(1, len(self.present) + 1) ** QUERY_ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        pairs = sorted(corpus.pairs.items())
        self.pairs = [p for p, _ in pairs]
        pw = np.sqrt(np.array([c for _, c in pairs], dtype=np.float64))
        self.pair_cdf = np.cumsum(pw / pw.sum())

    def _words(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n))
        idx = np.minimum(idx, len(self.present) - 1)
        return [word(int(r)) for r in self.present[idx]]

    def _distinct_words(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            out = list(dict.fromkeys(out + self._words(n)))[:n]
        return out

    def make(self, shape: str) -> str:
        if shape == "q5":
            i = int(np.searchsorted(self.pair_cdf, self.rng.random()))
            a, b = self.pairs[min(i, len(self.pairs) - 1)]
            return f'"{word(a)} {word(b)}"'
        if shape == "q7":
            return self._words(1)[0]
        if shape in ("q1", "q6"):
            return " ".join(self._distinct_words(3 if shape == "q1" else 4))
        a, b = self._distinct_words(2)
        op = {"q2": "AND", "q3": "OR", "q4": "NOT"}[shape]
        return f"{a} {op} {b}"

    def stream(self, n: int) -> list[tuple[str, str]]:
        """``n`` (shape, query) pairs cycling through q1..q7 in order, so
        every prefix of the stream has the same shape mix."""
        return [(SHAPES[i % 7], self.make(SHAPES[i % 7])) for i in range(n)]

    def pool(self, n: int) -> list[str]:
        """``n`` distinct queries, shapes in equal proportion."""
        out: dict[str, None] = {}
        i = 0
        while len(out) < n:
            out.setdefault(self.make(SHAPES[i % 7]))
            i += 1
        return list(out)

    def popular(self, pool: list[str], n: int, s: float) -> list[str]:
        """``n`` requests over ``pool`` with Zipf(s) popularity (pool order
        is random, so popularity is independent of shape)."""
        w = 1.0 / np.arange(1, len(pool) + 1) ** s
        cdf = np.cumsum(w / w.sum())
        order = self.rng.permutation(len(pool))
        idx = np.minimum(np.searchsorted(cdf, self.rng.random(n)), len(pool) - 1)
        return [pool[order[i]] for i in idx]
