"""Reference answers the benchmark checks the program's outputs against.

Pure numpy/Python; none of it calls the package under test.
"""

from __future__ import annotations

import numpy as np


def _l2(corpus: np.ndarray, q: np.ndarray) -> np.ndarray:
    """l2 in float64, accumulated dimension by dimension in the same
    left-to-right order as the engine's distance fold, then square-rooted
    as it is, so ties and near-ties order the same way."""
    c = corpus.astype(np.float64)
    qq = q.astype(np.float64)
    acc = np.zeros(len(c))
    for j in range(c.shape[1]):
        d = c[:, j] - qq[j]
        acc = acc + d * d
    return np.sqrt(acc)


def _cosine(corpus: np.ndarray, q: np.ndarray) -> np.ndarray:
    c = corpus.astype(np.float64)
    qq = q.astype(np.float64)
    return 1.0 - (c @ qq) / (np.linalg.norm(c, axis=1) * np.linalg.norm(qq))


def topk(ids: np.ndarray, corpus: np.ndarray, q: np.ndarray, k: int = 10,
         metric: str = "l2") -> list[int]:
    """Brute-force top-k ids, ties broken by id."""
    d = _l2(corpus, q) if metric == "l2" else _cosine(corpus, q)
    order = np.lexsort((ids, d))[:k]
    return [int(x) for x in ids[order]]


def overlap(got: list[int], want: list[int]) -> float:
    return len(set(got) & set(want)) / float(len(want))


class UnionFind:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def components(pairs) -> dict[int, int]:
    """node -> smallest node id of its component, over the pair graph
    (a root is its component's minimum: union keeps the smaller root)."""
    uf = UnionFind()
    for a, b in pairs:
        uf.union(int(a), int(b))
    return {x: uf.find(x) for x in list(uf.parent)}


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Distinct word n-gram shingles, as operators.dedup.shingles forms
    them for lower-case single-space-separated text."""
    toks = text.split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    common = len(a & b)
    return common / float(len(a) + len(b) - common)
