"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, which :func:`input_hash` fingerprints. Nothing here
touches Spark; the workloads turn these arrays into DataFrames.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

DIM = 64  # the repo's EMB_DIM (registry/common.py)
N_CENTERS = 50
CENTER_SCALE = 3.0


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts the values of another."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def input_hash(*parts) -> str:
    """sha256 over arrays, scalars, strings and nested lists/tuples."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, np.ndarray):
            h.update(str(x.dtype).encode() + str(x.shape).encode())
            h.update(np.ascontiguousarray(x).tobytes())
        elif isinstance(x, (list, tuple)):
            h.update(b"[")
            for y in x:
                feed(y)
            h.update(b"]")
        else:
            h.update(repr(x).encode())

    for p in parts:
        feed(p)
    return h.hexdigest()


# ---------------------------------------------------------------- vectors


def clustered_vectors(rng: np.random.Generator, n: int, centers: np.ndarray,
                      shift: np.ndarray | None = None) -> np.ndarray:
    """float32 points around ``centers`` (+ an optional drift ``shift``)."""
    lab = rng.integers(0, len(centers), n)
    x = centers[lab] + rng.standard_normal((n, DIM))
    if shift is not None:
        x = x + shift
    return x.astype(np.float32)


def centers_for(seed: int) -> np.ndarray:
    return _rng(seed, "centers").standard_normal((N_CENTERS, DIM)) * CENTER_SCALE


def perturb(rng: np.random.Generator, base: np.ndarray, scale: float = 0.05) -> np.ndarray:
    return (base + rng.standard_normal(base.shape) * scale).astype(np.float32)


@dataclass
class ChurnRound:
    insert_ids: np.ndarray    # int64 ids, fresh
    insert_vecs: np.ndarray   # (n_insert, DIM) float32
    delete_ids: np.ndarray    # int64 ids, live before the round
    probe_ids: list           # just-inserted ids, searched for on every index
    knn_queries: np.ndarray   # (n_probe, DIM) float32, near base-corpus points
    batch: np.ndarray         # (batch, DIM) float32, near live points


@dataclass
class ChurnInputs:
    corpus: np.ndarray        # (n, DIM) float32; vec_id = row index
    rounds: list

    def digest(self) -> str:
        return input_hash(self.corpus, [
            (r.insert_ids, r.insert_vecs, r.delete_ids, r.probe_ids,
             r.knn_queries, r.batch)
            for r in self.rounds
        ])


def churn_inputs(seed: int, n: int, n_rounds: int, n_insert: int,
                 n_delete: int, n_probe: int, batch: int) -> ChurnInputs:
    """A starting corpus plus a fixed schedule of rounds: an insert batch,
    a delete batch of ids live before the round, ``n_probe`` probes (ids
    of the inserted batch), as many queries near base-corpus points, and
    a query batch near live points. Inserts come from a distribution whose centres
    drift a fixed step per round, so IVF lists (whose centroids are
    frozen at build) drift away from their data."""
    centers = centers_for(seed)
    corpus = clustered_vectors(_rng(seed, "corpus"), n, centers)
    r = _rng(seed, "churn")
    direction = r.standard_normal(DIM)
    direction *= 0.5 / np.linalg.norm(direction)
    pool = [corpus]
    live = list(range(n))
    next_id = n
    rounds = []
    for i in range(n_rounds):
        ins = clustered_vectors(r, n_insert, centers, shift=direction * (i + 1))
        ins_ids = np.arange(next_id, next_id + n_insert, dtype=np.int64)
        next_id += n_insert
        pool.append(ins)
        pick = r.choice(len(live), size=n_delete, replace=False)
        dels = np.sort(np.array([live[j] for j in pick], dtype=np.int64))
        gone = set(dels.tolist())
        live = [v for v in live if v not in gone] + ins_ids.tolist()
        vecs = np.concatenate(pool)
        rounds.append(ChurnRound(
            ins_ids, ins, dels,
            probe_ids=[int(x) for x in r.choice(ins_ids, n_probe, replace=False)],
            knn_queries=perturb(r, corpus[r.integers(0, n, n_probe)]),
            batch=perturb(r, vecs[np.array(live)[r.integers(0, len(live), batch)]]),
        ))
    return ChurnInputs(corpus, rounds)


# -------------------------------------------------------------- documents

N_TOPICS = 8


@dataclass
class CurationInputs:
    doc_ids: np.ndarray       # int64
    texts: list               # str per doc
    labels: np.ndarray        # int32 topic per doc (the dbscan block key)
    embeddings: np.ndarray    # (n, DIM) float32
    dup_pairs: list           # injected (source_id, copy_id), source < copy

    def digest(self) -> str:
        return input_hash(self.doc_ids, self.texts, self.labels,
                          self.embeddings, self.dup_pairs)


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < size:
        w = "".join(rng.choice(letters, rng.integers(3, 9)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def curation_inputs(seed: int, n_docs: int, dup_share: float = 0.5,
                    vocab_size: int = 4000, min_words: int = 40,
                    max_words: int = 90) -> CurationInputs:
    """Synthetic corpus: topic-labelled docs of uniformly drawn words, of
    which ``dup_share`` are edited copies (word substitutions at 1-3%) of
    an earlier doc — copies of copies included, so duplicate clusters
    have more than two members. Each doc has one embedding near its
    topic centre; a copy's embedding sits next to its source's."""
    r = _rng(seed, "docs")
    vocab = np.array(_vocab(r, vocab_size))
    topic_centers = r.standard_normal((N_TOPICS, DIM)) * CENTER_SCALE
    words: list[np.ndarray] = []
    labels = np.empty(n_docs, dtype=np.int32)
    emb = np.empty((n_docs, DIM), dtype=np.float32)
    dup_pairs = []
    for i in range(n_docs):
        if i >= 10 and r.random() < dup_share:
            src = int(r.integers(0, i))
            w = words[src].copy()
            edit = r.random(len(w)) < r.uniform(0.01, 0.03)
            w[edit] = r.integers(0, vocab_size, int(edit.sum()))
            labels[i] = labels[src]
            emb[i] = emb[src] + r.standard_normal(DIM).astype(np.float32) * 0.05
            dup_pairs.append((src, i))
        else:
            w = r.integers(0, vocab_size, int(r.integers(min_words, max_words + 1)))
            labels[i] = int(r.integers(0, N_TOPICS))
            emb[i] = topic_centers[labels[i]] + r.standard_normal(DIM)
        words.append(w)
    texts = [" ".join(vocab[w]) for w in words]
    return CurationInputs(np.arange(n_docs, dtype=np.int64), texts, labels,
                          emb, dup_pairs)
