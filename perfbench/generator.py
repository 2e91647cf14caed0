"""Seeded workload inputs for the benchmark.

Everything the engine sees is generated here, from the ``--seed``
argument alone, so a change to the engine or its scripts cannot change
the workload.

The corpus is an *id-hash* corpus: row ``i`` belongs to Gaussian blob
``hash(seed, i) % n_blobs`` and its noise comes from a counter-based
stream keyed by ``(seed, chunk of i)``. Any id range can therefore be
regenerated on its own, in any order, and the rows after the base
corpus form further batches of the same data. Queries are drawn from
the same blobs under their own streams, so they are fresh points, never
corpus rows; a test-query stream number selects one of many independent
query streams over the same data. Curation documents (``documents``)
come from a stream of their own.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

CHUNK = 4096  # rows per noise stream; fixes the layout of the id space
SPREAD = 3.0  # group-centre scale over the unit within-blob noise
GROUP = 16  # blobs per group
SUB_SPREAD = 1.0  # scale of a blob centre around its group centre

# stream tags: one independent random stream per kind of input; test
# query stream ``s`` has tag ``_TEST + s``
_DOCS, _CENTRES, _CORPUS, _TRAIN, _TEST = 0, 1, 2, 3, 4

# error-profile grid of eval/run.sh, k in {10, 50, 100} x bound in
# {1%, 5%, 10%}, in a Latin-square order: batches 0-2, 3-5 and 6-8 each
# cover every k and every bound, so a short run still meets all of them
BOUND_CONFIGS: tuple[tuple[int, float], ...] = (
    (10, 0.01), (50, 0.05), (100, 0.1),
    (10, 0.05), (50, 0.1), (100, 0.01),
    (10, 0.1), (50, 0.01), (100, 0.05),
)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorised splitmix64 finaliser (uint64 in, uint64 out)."""
    z = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


@dataclass(frozen=True)
class VectorSpace:
    """Clustered vectors: ``n_blobs`` Gaussian blobs in ``d`` dims, in
    groups of ``GROUP`` nearby blobs."""

    seed: int
    d: int
    n_blobs: int

    def centres(self) -> np.ndarray:
        """Blob centres: group centres far apart, and the blobs of a
        group close around theirs. A query's neighbours beyond its own
        blob then lie in nearby blobs, as in real embeddings, and a
        bounded search must widen step by step to reach them."""
        rng = np.random.default_rng([self.seed, _CENTRES])
        groups = rng.normal(size=(-(-self.n_blobs // GROUP), self.d)) * SPREAD
        own = rng.normal(size=(self.n_blobs, self.d)) * SUB_SPREAD
        return np.repeat(groups, GROUP, axis=0)[: self.n_blobs] + own

    def _blob_of(self, tag: int, ids: np.ndarray) -> np.ndarray:
        key = splitmix64(np.uint64(self.seed) * np.uint64(1_000_003) + np.uint64(tag))
        h = splitmix64(np.asarray(ids, dtype=np.uint64) ^ key)
        return (h % np.uint64(self.n_blobs)).astype(np.int64)

    def _points(self, tag: int, lo: int, hi: int) -> np.ndarray:
        """Rows ``lo..hi-1`` of stream ``tag`` as float32 (n, d)."""
        if hi <= lo:
            return np.empty((0, self.d), dtype=np.float32)
        cent = self.centres()
        out = np.empty((hi - lo, self.d), dtype=np.float32)
        for c in range(lo // CHUNK, (hi - 1) // CHUNK + 1):
            c0 = c * CHUNK
            noise = np.random.default_rng([self.seed, tag, c]).normal(
                size=(CHUNK, self.d)
            )
            a, b = max(lo, c0), min(hi, c0 + CHUNK)
            ids = np.arange(a, b, dtype=np.int64)
            out[a - lo : b - lo] = cent[self._blob_of(tag, ids)] + noise[a - c0 : b - c0]
        return out

    def corpus(self, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, vectors) of corpus rows ``lo..hi-1``."""
        return np.arange(lo, hi, dtype=np.int64), self._points(_CORPUS, lo, hi)

    def train_queries(self, n: int) -> np.ndarray:
        return self._points(_TRAIN, 0, n)

    def test_queries(self, lo: int, hi: int, stream: int = 0) -> np.ndarray:
        if stream < 0:
            raise ValueError(f"query stream {stream} < 0")
        return self._points(_TEST + stream, lo, hi)


# curation documents: words drawn from VOCAB, WORDS words a document; a
# DUP_SHARE of documents copy an earlier one with EDITS words replaced
VOCAB, WORDS, DUP_SHARE, EDITS = 2000, (30, 60), 0.25, 2


def documents(seed: int, n_docs: int) -> tuple[np.ndarray, list[str]]:
    """(doc ids, texts) of a seeded curation corpus with near-duplicates.

    Documents are random words ``w0 .. w{VOCAB-1}``. A ``DUP_SHARE`` of
    them are copies of an earlier document (possibly itself a copy) with
    ``EDITS`` words replaced, so they form multi-member near-duplicate
    clusters; the rest share almost no 3-word shingle with anything.
    """
    rng = np.random.default_rng([seed, _DOCS])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_SHARE:
            w = texts[int(rng.integers(i))].split()
            for j in rng.choice(len(w), EDITS, replace=False):
                w[j] = f"w{rng.integers(VOCAB)}"
        else:
            w = [f"w{x}" for x in rng.integers(VOCAB, size=int(rng.integers(*WORDS)))]
        texts.append(" ".join(w))
    return np.arange(n_docs, dtype=np.int64), texts


def config_of(batch: int) -> tuple[int, float]:
    """(k, bound) of bounded-search batch ``batch``: the grid configs in
    turn, so every run meets them in the same order."""
    return BOUND_CONFIGS[batch % len(BOUND_CONFIGS)]
