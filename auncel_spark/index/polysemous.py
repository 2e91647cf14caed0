"""Polysemous PQ search: Hamming pre-filter before ADC.

Reference (SURVEY.md §2.2 B12, §2.3 O11):
- ``IndexPQ::search`` modes (``Auncel/IndexPQ.h:74-91``): ST_PQ (plain
  ADC), ST_HE (Hamming filter on codes at threshold ``polysemous_ht``,
  then ADC on survivors), ST_SDC (symmetric table distance).
- ``PolysemousTraining`` (``Auncel/PolysemousTraining.h:121``, .cpp
  ~950 LoC): simulated-annealing permutation of PQ centroid indices so
  that code Hamming distance correlates with true distance — making
  the cheap filter meaningful.

Spark shape: both searches are the brute-force scan of
``operators/knn.py`` (``_flat_partials``) with a code-table distance
block; the polysemous filter masks the ADC block by popcount, after
one counting scan has decided which queries fall back to full ADC.
Annealing runs driver-side (the codebook permutation is M×256 ints;
the reference trains on a sample too).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from auncel_spark.config import Metric
from auncel_spark.functions.vector import (
    _binary_matrix,
    ids_codes_from_arrow,
    ids_mat_from_arrow,
    map_rows,
    vec_matrix,
)
from auncel_spark.index.binary import _POP, hamming_range_count
from auncel_spark.index.pq import ProductQuantizer
from auncel_spark.operators.knn import _flat_partials
from auncel_spark.operators.topk import topk_per_query


def _anneal_reproduce(
    cdist: np.ndarray,
    nbits: int,
    n_iter: int,
    rng: np.random.Generator,
    init_temperature: float = 0.7,
    temperature_decay: float = 0.9 ** (1.0 / 500.0),
) -> np.ndarray:
    """Exact ``ReproduceWithHammingObjective`` annealing
    (``Auncel/PolysemousTraining.cpp:180-290``, optimizer :117-155):

    - target td[i,j] = (d_ij − mean)/std · sqrt(nbits/4) + nbits/2 —
      centroid distances affine-mapped onto the theoretical Hamming
      moments of random nbits codes;
    - weights w[i,j] = exp(−log 2 · td[i,j]) (``dis_weight_factor =
      log(2)``, PolysemousTraining.cpp:759) — reproducing SMALL
      distances matters most, they drive the filter;
    - cost = Σ w·(td − popcount(perm_i ⊕ perm_j))², minimized by
      random-swap annealing with the reference's acceptance rule
      (delta < 0 or rand < temperature) and schedule (T₀=0.7, decay
      0.9^(1/500)).

    The swap delta is computed on the affected rows/columns only — the
    reference's O(n) ``cost_update`` — with the Hamming and cost
    matrices cached, so each iteration is a handful of length-n vector
    ops instead of an n² recompute."""
    n = cdist.shape[0]
    std = cdist.std()
    td = (cdist - cdist.mean()) / (std if std > 0 else 1.0) * np.sqrt(
        nbits / 4.0
    ) + nbits / 2.0
    w = np.exp(-np.log(2.0) * td)
    perm = np.arange(n)
    pop = _POP[(perm[:, None] ^ perm[None, :]) & 0xFF]
    C = w * (td - pop) ** 2
    T = init_temperature
    for _ in range(n_iter):
        T *= temperature_decay
        i = int(rng.integers(0, n))
        j = int(rng.integers(0, n - 1))
        if j == i:
            j += 1
        pi, pj = perm[i], perm[j]
        rowi = _POP[(pj ^ perm) & 0xFF]
        rowj = _POP[(pi ^ perm) & 0xFF]
        rowi[i], rowi[j] = 0, _POP[(pj ^ pi) & 0xFF]
        rowj[j], rowj[i] = 0, _POP[(pi ^ pj) & 0xFF]
        newCi = w[i] * (td[i] - rowi) ** 2
        newCj = w[j] * (td[j] - rowj) ** 2
        # symmetry (XOR, td, w all symmetric) ⇒ columns = rows
        s_old = (
            C[i].sum() + C[j].sum() + C[:, i].sum() + C[:, j].sum()
            - (C[i, i] + C[i, j] + C[j, i] + C[j, j])
        )
        s_new = (
            2.0 * (newCi.sum() + newCj.sum())
            - (newCi[i] + newCi[j] + newCj[i] + newCj[j])
        )
        delta = s_new - s_old
        if delta < 0 or rng.random() < T:
            perm[i], perm[j] = pj, pi
            C[i], C[j] = newCi, newCj
            C[:, i], C[:, j] = newCi, newCj
    return perm


def polysemous_permutation(
    pq: ProductQuantizer,
    n_iter: int = 50_000,
    seed: int = 42,
    objective: str = "reproduce",
) -> np.ndarray:
    """Simulated-annealing permutation per subspace so that code
    Hamming distance tracks true centroid distance. Returns (M, ksub)
    int permutations mapping old code → new code.

    objective="reproduce" (default): the reference's exact
    ``ReproduceWithHammingObjective`` (affine-mapped distance targets,
    exp-decay weights — see ``_anneal_reproduce``).
    objective="corr": the r01 correlation proxy (kept for comparison;
    cheaper per iteration at small n_iter but weaker filters)."""
    rng = np.random.default_rng(seed)
    perms = np.empty((pq.M, pq.ksub), dtype=np.int64)
    nbits = max(1, int(np.log2(pq.ksub)))
    for m in range(pq.M):
        cb = pq.codebooks[m]
        cdist = ((cb[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
        if objective == "reproduce":
            perms[m] = _anneal_reproduce(cdist, nbits, n_iter, rng)
            continue
        perm = np.arange(pq.ksub)

        def cost(p):
            codes = p[:, None] ^ p[None, :]
            ham = _POP[codes & 0xFF]  # ksub ≤ 256 → one byte
            # correlation proxy: Hamming should grow with distance
            return -np.corrcoef(ham.ravel(), cdist.ravel())[0, 1]

        cur = cost(perm)
        T = 1.0
        for it in range(n_iter):
            i, j = rng.integers(0, pq.ksub, 2)
            if i == j:
                continue
            perm[i], perm[j] = perm[j], perm[i]
            new = cost(perm)
            if new < cur or rng.random() < np.exp(-(new - cur) / max(T, 1e-9)):
                cur = new
            else:
                perm[i], perm[j] = perm[j], perm[i]
            T *= 0.999
        perms[m] = perm
    return perms


def _permute(perms: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Codes with subspace m's code c replaced by ``perms[m][c]``."""
    return perms[np.arange(perms.shape[0])[None, :], codes].astype(np.uint8)


def remap_codes(df: DataFrame, perms: np.ndarray, code_col: str = "code") -> DataFrame:
    """Apply the polysemous permutation to stored codes."""
    return map_rows(df, _permute, [code_col], [(code_col, "binary")], state=perms)


def polysemous_knn(
    queries: DataFrame,
    coded_base: DataFrame,
    pq: ProductQuantizer,
    k: int,
    ht: int,
    metric: Metric = Metric.L2,
    perms: np.ndarray | None = None,
) -> DataFrame:
    """ST_polysemous: filter candidates whose code Hamming distance to
    the query's code is < ht, ADC only on survivors. A query with fewer
    than k survivors in the whole base falls back to full ADC (matching
    the reference's behavior of returning k results): one counting
    scan (``hamming_range_count``) decides that per query before the
    ``_flat_partials`` scan, so the result does not depend on how the
    base is partitioned."""

    def encode(st, x):
        books, P = st
        codes = ProductQuantizer(books).encode_np(x)
        return codes if P is None else _permute(P, codes)

    q = map_rows(
        queries.select("qid", "vec"), encode, ["vec"], [("code", "binary")],
        state=(pq.codebooks, perms),
    )
    base = coded_base.select("id", "code")
    survivors = hamming_range_count(q, base, ht, q_bits_col="code", bits_col="code")
    q = q.join(survivors, "qid", "left")

    def qdecode(batch):
        qids = batch.column("qid").to_numpy(zero_copy_only=False).astype(np.int64)
        full = batch.column("cnt").fill_null(0).to_numpy(zero_copy_only=False) < k
        qmat = vec_matrix(batch.column("vec"))
        return qids, (qmat, _binary_matrix(batch.column("code")), full)

    books = queries.sparkSession.sparkContext.broadcast(pq.codebooks)

    def kernel(qs):
        qmat, qcodes, full = qs
        adc = ProductQuantizer(books.value)
        luts = np.stack([adc.lut_np(q, metric) for q in qmat])  # (nq, M, ksub)
        sub = np.arange(adc.M)[None, :]

        def score(codes):
            dist = luts[:, sub, codes].sum(axis=2)
            ham = _POP[qcodes[:, None, :] ^ codes[None, :, :]].sum(axis=2)
            return np.where((ham < ht) | full[:, None], dist, np.inf)

        return score

    partial = _flat_partials(
        q, base, k, kernel, decode=ids_codes_from_arrow, qdecode=qdecode
    )
    return topk_per_query(partial, k).select("qid", "pos", "id", "dist")


def sdc_knn(
    queries: DataFrame,
    coded_base: DataFrame,
    pq: ProductQuantizer,
    k: int,
) -> DataFrame:
    """ST_SDC: symmetric distance — the query is PQ-encoded too and
    distances come from precomputed centroid-to-centroid tables
    (cheaper queries, coarser distances)."""
    # (M, ksub, ksub) symmetric tables
    sdc = np.stack(
        [
            ((pq.codebooks[m][:, None, :] - pq.codebooks[m][None, :, :]) ** 2).sum(-1)
            for m in range(pq.M)
        ]
    )
    tables = queries.sparkSession.sparkContext.broadcast(sdc)

    def qdecode(batch):
        qids, qmat = ids_mat_from_arrow(batch)
        return qids, pq.encode_np(qmat)

    def kernel(qcodes):
        def score(codes):
            t = tables.value
            dist = np.zeros((len(qcodes), len(codes)))
            for m in range(t.shape[0]):
                dist += t[m][qcodes[:, m][:, None], codes[:, m][None, :]]
            return dist

        return score

    partial = _flat_partials(
        queries.select("qid", "vec"), coded_base.select("id", "code"), k, kernel,
        decode=ids_codes_from_arrow, qdecode=qdecode,
    )
    return topk_per_query(partial, k).select("qid", "pos", "id", "dist")
