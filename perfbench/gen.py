"""Seeded inputs and exact oracles for the benchmark.

Everything a run feeds the engine comes from one ``numpy`` generator
seeded with ``--seed``: the corpus (clustered vectors, Zipf categories,
uniform prices, Zipf-vocabulary texts, planted near-duplicate
documents), the query stream and the churn schedule. The oracles are
plain NumPy / Python: exact top-k by squared L2 with the ``(score, id)``
tiebreak, BM25 with the engine's constants, and the planted duplicate
pairs. Nothing here touches Spark.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict
from dataclasses import dataclass

import numpy as np

N_CLUSTERS = 64          # Gaussian clusters the vectors are drawn around
CLUSTER_SPREAD = 0.6     # per-dimension noise around a cluster centre
VOCAB = 2000             # text vocabulary size (Zipf-ranked)
ZIPF_S = 1.1             # vocabulary skew
N_CATEGORIES = 20
BM25_K1, BM25_B = 1.2, 0.75


def vocab_word(rank: int) -> str:
    return f"w{rank}"


@dataclass
class Corpus:
    """Column arrays of one batch of rows, aligned by position."""

    ids: np.ndarray        # int64
    vectors: np.ndarray    # float64, values exactly representable as float32
    category: np.ndarray   # str
    price: np.ndarray      # float64 in [0, 100)
    text: list[str]
    ver: np.ndarray        # int64 version marker (0 = original row)

    def __len__(self) -> int:
        return len(self.ids)

    def user_bytes(self) -> int:
        """Bytes of the user-visible row content (the space-amp base)."""
        return int(len(self) * (8 + 8 + 8 + 8 * self.vectors.shape[1])
                   + sum(len(c) for c in self.category)
                   + sum(len(t.encode()) for t in self.text))

    def to_arrow(self):
        import pyarrow as pa

        dim = self.vectors.shape[1]
        flat = pa.array(np.ascontiguousarray(self.vectors).ravel())
        return pa.table({
            "id": pa.array(self.ids, type=pa.int64()),
            "vector": pa.FixedSizeListArray.from_arrays(flat, dim)
                        .cast(pa.list_(pa.float64())),
            "category": pa.array(list(self.category)),
            "price": pa.array(self.price),
            "text": pa.array(self.text),
            "ver": pa.array(self.ver, type=pa.int64()),
        })


class Generator:
    """All seeded draws of one run. The cluster centres and word
    probabilities are fixed per seed, so later batches (churn inserts,
    queries) come from the same distribution as the initial corpus."""

    def __init__(self, seed: int, dim: int):
        self.rng = np.random.default_rng(seed)
        self.dim = dim
        self.centres = self.rng.normal(0.0, 1.0, (N_CLUSTERS, dim))
        w = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
        self.word_p = w / w.sum()
        c = 1.0 / np.arange(1, N_CATEGORIES + 1) ** 1.2
        self.cat_p = c / c.sum()
        self._texts_seen: set[str] = set()

    def _words(self, n: int, head: int | None = None) -> str:
        if head is None:
            ranks = self.rng.choice(VOCAB, size=n, p=self.word_p)
        else:
            p = self.word_p[:head] / self.word_p[:head].sum()
            ranks = self.rng.choice(head, size=n, p=p)
        return " ".join(vocab_word(int(r)) for r in ranks)

    def vectors(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, N_CLUSTERS, n)
        x = self.centres[lab] + self.rng.normal(0.0, CLUSTER_SPREAD, (n, self.dim))
        # float32-representable doubles: the engine and the oracle then
        # start from bit-identical inputs
        return x.astype(np.float32).astype(np.float64)

    def rows(self, ids: np.ndarray, ver: int = 0) -> Corpus:
        n = len(ids)
        lens = self.rng.integers(8, 21, n)
        texts = [self._words(int(k)) for k in lens]
        cats = self.rng.choice(N_CATEGORIES, size=n, p=self.cat_p)
        return Corpus(
            ids=np.asarray(ids, dtype=np.int64),
            vectors=self.vectors(n),
            category=np.array([f"c{int(c)}" for c in cats]),
            price=self.rng.uniform(0.0, 100.0, n),
            text=texts,
            ver=np.full(n, ver, dtype=np.int64),
        )

    def plant_duplicates(self, c: Corpus, frac: float) -> list[tuple[int, int]]:
        """Overwrite ``frac`` of the rows with near-duplicates of other
        rows: the same words with changed letter case and spacing, which
        the engine's lowercase/whitespace tokenizer maps to the identical
        token stream. Returns the planted (smaller id, larger id) pairs."""
        n = len(c)
        k = max(1, int(n * frac))
        pick = self.rng.choice(n, size=2 * k, replace=False)
        pairs = []
        for src, dst in zip(pick[:k], pick[k:]):
            words = c.text[src].split(" ")
            c.text[dst] = "  ".join(w.upper() if i % 2 else w
                                    for i, w in enumerate(words)) + " "
            a, b = int(c.ids[src]), int(c.ids[dst])
            pairs.append((min(a, b), max(a, b)))
        return sorted(pairs)

    def query_vector(self) -> np.ndarray:
        c = int(self.rng.integers(N_CLUSTERS))
        q = self.centres[c] + self.rng.normal(0.0, CLUSTER_SPREAD, self.dim)
        return q.astype(np.float32).astype(np.float64)

    def query_text(self) -> str:
        """A query text new to this run: 3 words from the 200 most
        frequent. Callers repeat a text on purpose, so every run holds
        the same share of repeated queries (a repeat is served faster,
        and a random share of repeats spread the latency between runs).
        A fixed word count keeps the lexical work per query alike: with
        2 or 3 words BM25 latency ranged 40 % over five runs, against
        20 % for the vector reads."""
        while True:
            text = self._words(3, head=200)
            if text not in self._texts_seen:
                self._texts_seen.add(text)
                return text

    def price_range(self, selectivity: float) -> tuple[float, float]:
        width = 100.0 * selectivity
        lo = float(self.rng.uniform(0.0, 100.0 - width))
        return lo, lo + width


# --------------------------------------------------------------- oracles


def exact_topk(ids: np.ndarray, vectors: np.ndarray, q: np.ndarray, k: int,
               mask: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k by squared L2, ``(score, id)`` ascending. Candidates
    come from the BLAS expansion; their scores are then recomputed as a
    direct sum of squared differences, the engine's own arithmetic."""
    if mask is not None:
        ids, vectors = ids[mask], vectors[mask]
    if len(ids) == 0:
        return ids[:0], np.zeros(0)
    approx = (vectors * vectors).sum(1) - 2.0 * (vectors @ q)
    m = min(len(ids), 4 * k + 16)
    cand = np.argpartition(approx, m - 1)[:m] if m < len(ids) else np.arange(len(ids))
    exact = ((vectors[cand] - q) ** 2).sum(1)
    order = np.lexsort((ids[cand], exact))[:k]
    return ids[cand][order], exact[order]


def sq_l2(vectors: np.ndarray, q: np.ndarray) -> np.ndarray:
    return ((vectors - q) ** 2).sum(1)


def tokenize(text: str) -> list[str]:
    """The engine's BM25 tokenizer: split on bytes <= 0x20, lowercase."""
    return [t.lower() for t in re.split(r"[\x00-\x20]+", text) if t]


class BM25Oracle:
    """Exact BM25 over a mutable document set (k1=1.2, b=0.75,
    idf = ln(1 + (N - n + 0.5) / (n + 0.5)), per-term contributions
    summed in sorted-term order)."""

    def __init__(self):
        self.tf: dict[int, Counter] = {}
        self.dl: dict[int, int] = {}
        self.postings: dict[str, set[int]] = defaultdict(set)
        self.total = 0

    def put(self, doc_id: int, text: str) -> None:
        self.remove(doc_id)
        toks = tokenize(text)
        c = Counter(toks)
        self.tf[doc_id] = c
        self.dl[doc_id] = len(toks)
        self.total += len(toks)
        for t in c:
            self.postings[t].add(doc_id)

    def remove(self, doc_id: int) -> None:
        c = self.tf.pop(doc_id, None)
        if c is None:
            return
        self.total -= self.dl.pop(doc_id)
        for t in c:
            self.postings[t].discard(doc_id)

    def scores(self, query: str) -> dict[int, float]:
        qtf = Counter(tokenize(query))
        n_docs = len(self.tf)
        if not n_docs or not qtf:
            return {}
        avgdl = self.total / n_docs
        idf = {t: math.log(1.0 + (n_docs - len(self.postings.get(t, ())) + 0.5)
                           / (len(self.postings.get(t, ())) + 0.5)) for t in qtf}
        out: dict[int, float] = {}
        for doc in set().union(*(self.postings.get(t, set()) for t in qtf)):
            tf, dl, s = self.tf[doc], self.dl[doc], 0.0
            for t in sorted(qtf):
                f = tf.get(t, 0)
                if f:
                    s += qtf[t] * idf[t] * f * (BM25_K1 + 1) / (
                        f + BM25_K1 * (1 - BM25_B) + (BM25_K1 * BM25_B / avgdl) * dl)
            if s > 0:
                out[doc] = s
        return out


def topk_matches(got_ids, got_scores, truth: dict[int, float] | None,
                 want_scores: np.ndarray, ascending: bool,
                 rtol: float = 1e-9) -> bool:
    """True when a returned top-k is an exact answer: as many results as
    the oracle, every returned score equal (within ``rtol``) to the
    oracle's score for that id, and the sorted score list equal to the
    oracle's top-k scores. Equal-score ties may be broken either way."""
    if len(got_ids) != len(want_scores) or len(set(got_ids)) != len(got_ids):
        return False
    got = np.asarray(got_scores, dtype=np.float64)
    if truth is not None:
        ref = np.array([truth.get(int(i), np.nan) for i in got_ids])
        if not np.allclose(got, ref, rtol=rtol, atol=1e-12):
            return False
    order = np.sort(got) if ascending else -np.sort(-got)
    return bool(np.allclose(order, want_scores, rtol=rtol, atol=1e-12))


def recall(got_ids, exact_ids) -> float:
    exact = set(int(i) for i in exact_ids)
    if not exact:
        return 1.0
    return len(exact & set(int(i) for i in got_ids)) / len(exact)
