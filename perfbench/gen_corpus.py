"""Seeded LLM-curation corpus: documents over a Zipf vocabulary with
planted exact copies, near-copies and low-quality documents, plus one
embedding per document with planted near-duplicate vectors.

Writes ``corpus.parquet`` (doc_id, text), ``embeddings.parquet``
(doc_id, embedding) and ``manifest.json`` listing every planted group.
Group members are always well-formed prose, so the quality gate keeps
them; the low-quality documents belong to no group.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "a", "of", "and", "is")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    out, seen = [], set(STOPWORDS)
    while len(out) < n:
        w = "".join(_LETTERS[rng.integers(0, 26, int(rng.integers(3, 10)))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class _Writer:
    def __init__(self, rng: np.random.Generator, vocab_size: int):
        self.rng = rng
        self.vocab = _vocab(rng, vocab_size)
        p = 1.0 / np.arange(1, vocab_size + 1) ** 1.05
        self.p = p / p.sum()

    def words(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.vocab), size=n, p=self.p)
        sw = self.rng.integers(0, len(STOPWORDS), n)
        use_sw = self.rng.random(n) < 0.25
        return [STOPWORDS[s] if u else self.vocab[i]
                for i, s, u in zip(idx, sw, use_sw)]

    def prose(self, n_words: int) -> list[str]:
        """Sentences of 8-16 words: capitalised, full stop at the end."""
        w = self.words(n_words)
        i = 0
        while i < n_words:
            j = min(n_words, i + int(self.rng.integers(8, 17)))
            w[i] = w[i].capitalize()
            w[j - 1] = w[j - 1] + "."
            i = j
        return w

    def spam(self) -> str:
        n = int(self.rng.integers(6, 20))
        return " ".join(
            w.upper() + "!!!" if k % 2 else "$$$" + w.upper()
            for k, w in enumerate(self.words(n))
        )


def shingles(text: str, k: int = 3) -> set[str]:
    """Word k-shingles of lower-cased, whitespace-split text (docs
    shorter than k give one shingle of the whole doc)."""
    w = text.lower().split()
    return {" ".join(w[i:i + k]) for i in range(max(len(w) - k, 0) + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def generate(base: str, seed: int, n_docs: int, dim: int = 32,
             n_exact: int = 60, n_near: int = 60, n_sem: int = 120,
             n_low: int = 300, near_min_jaccard: float = 0.85) -> dict:
    rng = np.random.default_rng([int(seed), 23])
    wr = _Writer(rng, 8000)
    ids = rng.permutation(n_docs) + 1  # ids are handed out in this order
    nxt = [0]

    def take() -> int:
        nxt[0] += 1
        return int(ids[nxt[0] - 1])

    texts: dict[int, str] = {}
    topic = rng.normal(size=(16, dim))
    topic *= 0.8 / np.linalg.norm(topic, axis=1, keepdims=True)

    def embed() -> np.ndarray:
        return topic[int(rng.integers(16))] + rng.normal(
            scale=1 / np.sqrt(dim), size=dim)

    vecs: dict[int, np.ndarray] = {}
    exact, near, sem, low = [], [], [], []

    for _ in range(n_exact):
        w = wr.prose(int(rng.integers(60, 140)))
        group = []
        for c in range(int(rng.integers(2, 5))):
            i = take()
            # same normalised text: case and whitespace differ only
            if c == 1:
                texts[i] = "  ".join(w).lower()
            elif c == 2:
                texts[i] = " ".join(w) + " \n"
            else:
                texts[i] = " ".join(w)
            vecs[i] = embed() if c == 0 else vecs[group[0]]
            group.append(i)
        exact.append(group)

    for _ in range(n_near):
        w = wr.prose(int(rng.integers(80, 160)))
        base_sh = shingles(" ".join(w))
        group = [take()]
        texts[group[0]] = " ".join(w)
        vecs[group[0]] = embed()
        for _c in range(int(rng.integers(1, 3))):
            while True:
                v = list(w)
                for pos in rng.choice(len(w), size=2, replace=False):
                    v[pos] = wr.vocab[int(rng.integers(len(wr.vocab)))]
                if jaccard(base_sh, shingles(" ".join(v))) >= near_min_jaccard:
                    break
            i = take()
            texts[i] = " ".join(v)
            vecs[i] = vecs[group[0]] + rng.normal(scale=0.02, size=dim)
            group.append(i)
        near.append(group)

    for _ in range(n_sem):
        base_v = embed()
        noise = float(rng.uniform(0.1, 0.3))
        group = []
        for _c in range(int(rng.integers(2, 4))):
            i = take()
            texts[i] = " ".join(wr.prose(int(rng.integers(60, 140))))
            vecs[i] = base_v + rng.normal(scale=noise / np.sqrt(dim), size=dim)
            group.append(i)
        sem.append(group)

    for _ in range(n_low):
        i = take()
        texts[i] = wr.spam()
        vecs[i] = embed()
        low.append(i)

    while nxt[0] < n_docs:
        i = take()
        texts[i] = " ".join(wr.prose(int(rng.integers(40, 200))))
        vecs[i] = embed()

    order = sorted(texts)
    os.makedirs(base, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(order, pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }),
        os.path.join(base, "corpus.parquet"),
    )
    emb = np.stack([vecs[i] for i in order]).astype(np.float32)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(order, pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        }),
        os.path.join(base, "embeddings.parquet"),
    )
    manifest = {
        "seed": seed, "n_docs": n_docs, "dim": dim,
        "exact_groups": exact, "near_groups": near, "sem_groups": sem,
        "low_quality": low,
    }
    with open(os.path.join(base, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
