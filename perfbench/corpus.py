"""Seeded Zipfian source-code corpus for the benchmark.

Single process, numpy only, no Spark: the program under test receives the
finished parquet file and nothing else.  The shape is chosen so that the
effects a search engine is built around actually show up:

* tokens are alphabetic identifiers drawn from a Zipf(s) vocabulary whose
  size grows with the corpus (Heaps-like), so posting lists range from a
  handful of entries in the tail to most of the corpus at the head;
* file lengths are lognormal;
* adjacent word pairs recur (every word has a fixed "partner" that follows
  it with a fixed probability), so phrase queries have real matches;
* repo sizes are Pareto-skewed, so ``repo_link_graph`` has a real shape.

Vocabulary words are two or three CVC syllables over vowels ``aiou`` and
final consonants that no Porter suffix rule touches, so every generated
word is its own stem and no word is an English stopword.  The queries can
therefore name raw words and know exactly which documents contain them.

Output schema: ``(repo, path, commit, lang, content, doc_id, sha256)`` -
the repo's ``input_hint`` columns plus the dense id and the per-row
content hash.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ONSETS = list("bdfghjkmnprtvwz")
_VOWELS = list("aiou")
_CODAS = list("bdfkmnprtvz")
_SYLLABLES = [o + v + c for o in _ONSETS for v in _VOWELS for c in _CODAS]
# onset reserved for words that only a delta introduces
_DELTA_ONSETS = list("x")
_DELTA_SYLLABLES = [o + v + c for o in _DELTA_ONSETS for v in _VOWELS for c in _CODAS]

_LANGS = np.array(["py", "java", "go", "js", "rs"])
# separators between tokens: mostly spaces, some code punctuation
_SEPS = np.array([" ", " ", " ", " ", ".", "(", ", ", " = ", ")\n    ", "\n"])

ZIPF_S = 1.1
PAIR_P = 0.3          # share of even positions followed by the word's partner
LEN_MU, LEN_SIGMA = 4.8, 0.7   # lognormal token count: median ~120 tokens
MIN_LEN, MAX_LEN = 8, 2000
RARE_DF = 3


def word(rank: int) -> str:
    """The identifier for vocabulary rank ``rank`` (0 = most frequent)."""
    n = len(_SYLLABLES)
    a, b = rank % n, rank // n
    if b < n:
        return _SYLLABLES[a] + _SYLLABLES[b]
    return _SYLLABLES[a] + _SYLLABLES[b % n] + _SYLLABLES[b // n % n]


def delta_word(i: int) -> str:
    """Identifier ``i`` of the delta-only vocabulary (never in a base corpus)."""
    n = len(_DELTA_SYLLABLES)
    return _DELTA_SYLLABLES[i % n] + _SYLLABLES[(i // n) % len(_SYLLABLES)]


def vocab_size(n_docs: int) -> int:
    """Vocabulary grows with the corpus (Heaps-like, ~K * n^0.8)."""
    return int(15 * n_docs ** 0.8)


@dataclass
class Corpus:
    """A generated corpus plus what the query generator needs to know."""

    doc_ids: np.ndarray
    contents: list[str]
    repos: list[str]
    vocab: int
    partner: np.ndarray
    # rank -> number of documents containing the word
    df: np.ndarray
    # (rank, partner rank) pairs that occur adjacently, with their doc counts
    pairs: dict = field(default_factory=dict)
    # rank -> sorted doc ids, for the words held by at most RARE_DF docs
    rare_docs: dict = field(default_factory=dict)


class ZipfSource:
    """Draws documents from one seeded vocabulary.

    The base corpus and every later delta share the vocabulary and the
    partner table, so a delta reads like more of the same code base."""

    def __init__(self, n_docs: int, seed: int):
        self.vocab = vocab_size(n_docs)
        self.rng = np.random.default_rng(seed)
        w = 1.0 / np.arange(1, self.vocab + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.partner = self._ranks(self.vocab)
        self.n_repos = max(4, n_docs // 40)

    def fork(self, seed: int) -> "ZipfSource":
        """Same vocabulary and partner table, independent draws."""
        other = object.__new__(ZipfSource)
        other.__dict__.update(self.__dict__)
        other.rng = np.random.default_rng(seed)
        return other

    def _ranks(self, n: int) -> np.ndarray:
        u = self.rng.random(n)
        return np.minimum(np.searchsorted(self.cdf, u), self.vocab - 1)

    def _tokens(self, n: int) -> np.ndarray:
        toks = self._ranks(n)
        starts = np.flatnonzero(
            (np.arange(n - 1) % 2 == 0) & (self.rng.random(n - 1) < PAIR_P)
        )
        toks[starts + 1] = self.partner[toks[starts]]
        return toks

    def documents(
        self, first_id: int, n: int, delta_words: list[str] | None = None
    ):
        """``n`` documents with ids ``first_id..first_id+n-1``: returns
        (ids, contents, repos, per-document token ranks, planted).

        ``delta_words``: extra words, each planted in a few of these
        documents (the terms only a delta introduces); ``planted`` maps
        each to the sorted ids of the documents holding it."""
        lens = np.clip(
            self.rng.lognormal(LEN_MU, LEN_SIGMA, n).astype(np.int64),
            MIN_LEN, MAX_LEN,
        )
        toks = self._tokens(int(lens.sum()))
        seps = _SEPS[self.rng.integers(0, len(_SEPS), int(lens.sum()))]
        bounds = np.concatenate([[0], np.cumsum(lens)])
        vocab_words = np.array([word(r) for r in range(self.vocab)], dtype=object)
        plant: dict[int, list[str]] = {}
        planted: dict[str, list[int]] = {}
        for w in delta_words or []:
            docs = sorted(int(d) for d in self.rng.choice(n, size=min(n, 3), replace=False))
            planted[w] = [first_id + d for d in docs]
            for d in docs:
                plant.setdefault(d, []).append(w)
        contents, per_doc = [], []
        for d in range(n):
            lo, hi = bounds[d], bounds[d + 1]
            t = toks[lo:hi]
            parts = np.empty(2 * (hi - lo), dtype=object)
            parts[0::2] = vocab_words[t]
            parts[1::2] = seps[lo:hi]
            text = "".join(parts)
            if d in plant:
                text += "\n# " + " ".join(plant[d]) + "\n"
            contents.append(text)
            per_doc.append(t)
        # Pareto repo sizes: few big repos, a long tail of small ones
        repo_idx = np.minimum(
            (self.rng.pareto(1.2, n) * 3).astype(np.int64), self.n_repos - 1
        )
        repos = [f"org{r % 13}/repo{r}" for r in repo_idx]
        ids = np.arange(first_id, first_id + n, dtype=np.int64)
        return ids, contents, repos, per_doc, planted


def _doc_stats(per_doc: list[np.ndarray], vocab: int, partner: np.ndarray):
    df = np.zeros(vocab, dtype=np.int64)
    pairs: dict[tuple[int, int], int] = {}
    uniq = [np.unique(t) for t in per_doc]
    for t, u in zip(per_doc, uniq):
        df[u] += 1
        hit = t[1:] == partner[t[:-1]]
        for a in np.unique(t[:-1][hit]):
            key = (int(a), int(partner[a]))
            pairs[key] = pairs.get(key, 0) + 1
    rare: dict[int, list[int]] = {}
    for d, u in enumerate(uniq):
        for r in u[df[u] <= RARE_DF]:
            rare.setdefault(int(r), []).append(d)
    return df, pairs, rare


def generate(n_docs: int, seed: int) -> tuple[Corpus, ZipfSource]:
    src = ZipfSource(n_docs, seed)
    ids, contents, repos, per_doc, _ = src.documents(0, n_docs)
    # doc ids follow (repo, path) order, like a crawl sorted by location
    order = np.argsort(np.array(repos, dtype=object), kind="stable")
    contents = [contents[i] for i in order]
    repos = [repos[i] for i in order]
    per_doc = [per_doc[i] for i in order]
    df, pairs, rare = _doc_stats(per_doc, src.vocab, src.partner)
    return (
        Corpus(ids, contents, repos, src.vocab, src.partner, df, pairs, rare),
        src,
    )


def write_parquet(
    path: str,
    ids: np.ndarray,
    contents: list[str],
    repos: list[str],
    seed: int,
    files: int = 8,
    extra: dict | None = None,
) -> int:
    """Write the ``input_hint`` table as a directory of ``files`` parquet
    files (so the scan has that many tasks); returns content bytes.
    ``extra``: more columns, name -> pyarrow array."""
    n = len(ids)
    langs = _LANGS[ids % len(_LANGS)]
    paths = [f"src/m{int(i) % 17}/f{int(i)}.{lg}" for i, lg in zip(ids, langs)]
    commits = [
        hashlib.sha1(f"{seed}:{int(i)}:{c[:16]}".encode()).hexdigest()[:12]
        for i, c in zip(ids, contents)
    ]
    sha = [hashlib.sha256(c.encode()).hexdigest() for c in contents]
    table = pa.table(
        {
            "repo": pa.array(repos, pa.string()),
            "path": pa.array(paths, pa.string()),
            "commit": pa.array(commits, pa.string()),
            "lang": pa.array(list(langs), pa.string()),
            "content": pa.array(contents, pa.string()),
            "doc_id": pa.array(ids, pa.int64()),
            "sha256": pa.array(sha, pa.string()),
            **(extra or {}),
        }
    )
    os.makedirs(path, exist_ok=True)
    step = -(-n // files)
    for i in range(0, n, step):
        pq.write_table(
            table.slice(i, step), os.path.join(path, f"part-{i // step:03d}.parquet")
        )
    return sum(len(c.encode()) for c in contents)
