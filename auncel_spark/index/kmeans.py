"""k-means: the engine's one Lloyd kernel, and centroid assignment.

Reference surface (SURVEY.md §2.2 B1-B4):
- ``Clustering::train`` (``Auncel/Clustering.h:56-94``, ``Clustering.cpp``):
  in-memory Lloyd's iterations on at most ``max_points_per_centroid``·k
  sampled rows, random-subset init, optional spherical normalization,
  empty-cluster splitting (``utils.h:308-313`` ``km_update_centroids``).
- ``Index::assign`` (``Auncel/Index.h:155``): nearest-centroid labels.

Spark shape: training runs on the driver, as in the reference.
``train_kmeans`` collects ≤ ``MAX_POINTS_PER_CENTROID``·k rows in one
Arrow job (≤ 100 MB at nlist=1024, d=96) and runs ``lloyd``, which also
trains every PQ/OPQ sub-codebook and split-list child; its jobs do not
grow with the iterations. Only ``assign_lists`` passes over the whole
base. ``init="first_k"`` (the k lowest-id vectors) keeps correctness
queries SQL-oracle-expressible; benchmarks use seeded random init.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from auncel_spark.config import Metric
from auncel_spark.functions.vector import as_matrix, map_rows
from auncel_spark.index.scan import _TILE_ELEMS

MAX_POINTS_PER_CENTROID = 256  # Clustering.h: training rows per centroid


def assign_lists(
    df: DataFrame,
    centroids: np.ndarray,
    metric: Metric = Metric.L2,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Add (list_no, cdist): nearest centroid per row (B4).

    Broadcast-GEMM argmin per Arrow batch; ties broken by lowest
    centroid index (np.argmin semantics == ORDER BY dist, centroid id).
    """
    is_l2 = metric == Metric.L2

    def kernel(cents, mat):
        dots = mat @ cents.T
        if is_l2:
            c_norms = (cents * cents).sum(axis=1)[None, :]
            dist = (mat * mat).sum(axis=1)[:, None] + c_norms - 2.0 * dots
        else:
            dist = -dots
        lab = dist.argmin(axis=1)
        return lab, dist[np.arange(len(lab)), lab]

    return map_rows(
        df, kernel, [vec_col], [("list_no", "int"), ("cdist", "double")],
        state=np.asarray(centroids, dtype=np.float64),
    )


def lloyd(
    x: np.ndarray,
    cents: np.ndarray,
    n_iter: int,
    rng: np.random.Generator,
    metric: Metric = Metric.L2,
    spherical: bool = False,
    tol: float = 0.0,
) -> tuple[np.ndarray, list[float]]:
    """Lloyd's iterations on ``x`` (n×d) from ``cents`` (k×d); returns
    (centroids, objective history). Assignment is the argmin of |x|² +
    |c|² − 2·x·c (L2) or −x·c (IP) over row blocks of ~``_TILE_ELEMS``
    distances; the update sums each cluster in row order; an empty
    cluster splits the largest one (``_split``); ``spherical``
    renormalizes; a squared shift below ``tol`` stops.
    """
    x = np.asarray(x, dtype=np.float64)
    cents = np.asarray(cents, dtype=np.float64)
    k, d = cents.shape
    block = max(64, _TILE_ELEMS // max(k, 1))
    x2 = (x * x).sum(axis=1)
    history: list[float] = []
    for _ in range(n_iter):
        lab, obj = _assign(x, x2, cents, metric, block)
        history.append(obj)
        counts = np.bincount(lab, minlength=k)
        sums = np.stack(
            [np.bincount(lab, weights=x[:, j], minlength=k) for j in range(d)], axis=1
        )
        nonzero = counts > 0
        new = cents.copy()
        new[nonzero] = sums[nonzero] / counts[nonzero, None]
        for ci in np.where(~nonzero)[0]:
            big = int(counts.argmax())
            new[ci], new[big] = _split(new, ci, big, rng)
            counts[ci] = counts[big] // 2
            counts[big] -= counts[ci]
        if spherical:
            new = _renorm(new)
        shift = float(((new - cents) ** 2).sum())
        cents = new
        if shift < tol:
            break
    return cents, history


def exact_argmin(n: int, width: int, dist) -> np.ndarray:
    """Row-wise argmin of ``dist(rows)``, a caller's exact |x − c|²
    broadcast over a slice of its n rows, one block of ~``_TILE_ELEMS``
    (rows × ``width``) temporaries at a time instead of one (n, k, dsub)
    block. Each row's arithmetic is the unblocked expression's, so the
    labels are too."""
    block = max(1, _TILE_ELEMS // max(width, 1))
    return np.concatenate(
        [dist(slice(s, s + block)).argmin(axis=1) for s in range(0, max(n, 1), block)]
    )


def _split(
    cents: np.ndarray, ci: int, big: int, rng: np.random.Generator
) -> tuple[np.ndarray, np.ndarray]:
    """Centroid ``big`` ± a tiny random-sign perturbation, for empty
    cluster ``ci`` and ``big`` (km_update_centroids). A draw that lands
    on another centroid (few dimensions, as in a PQ subspace) is redrawn."""
    eps = 1e-4 * (1.0 + np.abs(cents[big]))
    others = np.delete(cents, ci, axis=0)
    for _ in range(8):
        sign = rng.choice([-1.0, 1.0], size=cents.shape[1])
        pair = cents[big] + eps * sign, cents[big] - eps * sign
        if not any((others == c).all(axis=1).any() for c in pair):
            break
    return pair


def _assign(
    x: np.ndarray, x2: np.ndarray, cents: np.ndarray, metric: Metric, block: int
) -> tuple[np.ndarray, float]:
    """(nearest-centroid labels, summed smallest distance), one block
    of rows at a time."""
    c2 = (cents * cents).sum(axis=1)[None, :]
    lab = np.empty(len(x), dtype=np.int64)
    obj = 0.0
    for s in range(0, len(x), block):
        dist = x[s : s + block] @ cents.T
        # in place, bit-equal to (|x|² + |c|²) − 2·x·c and −x·c
        if metric == Metric.L2:
            dist *= -2.0
            dist += x2[s : s + block, None] + c2
        else:
            np.negative(dist, out=dist)
        bl = dist.argmin(axis=1)
        lab[s : s + block] = bl
        obj += float(dist[np.arange(len(bl)), bl].sum())
    return lab, obj


def sample_matrix(df: DataFrame, vec_col: str, size: int, factor: float, seed: int, n=None):
    """≤ ``size`` rows of ``vec_col`` (float64) in one Arrow collect: a
    seeded factor·size/n sample, cut to its first ``size`` rows."""
    n = df.count() if n is None else n
    frac = min(1.0, size * factor / max(n, 1))
    pdf = df.select(vec_col).sample(fraction=frac, seed=seed).limit(size).toPandas()
    return as_matrix(pdf[vec_col])


def _training_set(df: DataFrame, vec_col: str, n: int, k: int, seed: int) -> np.ndarray:
    """Every row when n ≤ MAX_POINTS_PER_CENTROID·k, else a seeded
    uniform sample of that many: an over-sized Bernoulli draw cut by a
    seeded choice, so every partition contributes."""
    cap = MAX_POINTS_PER_CENTROID * k
    sel = df.select(vec_col)
    if n > cap:
        sel = sel.sample(fraction=min(1.0, 1.1 * cap / n), seed=seed)
    x = as_matrix(sel.toPandas()[vec_col])
    if len(x) > cap:
        keep = np.random.default_rng(seed).choice(len(x), cap, replace=False)
        x = x[np.sort(keep)]
    return x


def train_kmeans(
    df: DataFrame,
    k: int,
    metric: Metric = Metric.L2,
    max_iter: int = 25,
    spherical: bool = False,
    seed: int = 42,
    init: str = "sample",
    sample_size: int = 65536,
    id_col: str = "id",
    vec_col: str = "vec",
    tol: float = 1e-7,
) -> tuple[np.ndarray, list[float]]:
    """Lloyd's k-means; returns (centroids k×d float64, objective history).

    - ``init="sample"``: k seeded-random rows of a seeded
      ``sample_size``-row sample (Clustering.cpp's random perm).
    - ``init="first_k"``: the k lowest-id rows (SQL-expressible).
    - ``spherical``: L2-renormalize centroids after every update.

    ``lloyd`` runs on ``_training_set``: a count and two collects,
    whatever ``max_iter``.
    """
    n = df.count()
    if init == "first_k":
        pdf = df.select(id_col, vec_col).orderBy(id_col).limit(k).toPandas()
        cents = as_matrix(pdf.sort_values(id_col, kind="stable")[vec_col])
    elif init == "sample":
        rows = sample_matrix(df, vec_col, sample_size, 3.0, seed, n)
        idx = np.random.default_rng(seed).permutation(len(rows))[:k]
        cents = rows[idx]
        if len(cents) < k:
            raise ValueError(f"not enough rows ({len(rows)}) for k={k}")
    else:
        raise ValueError(f"unknown init {init!r}")

    if spherical:
        cents = _renorm(cents)
    x = _training_set(df, vec_col, n, k, seed)
    return lloyd(x, cents, max_iter, np.random.default_rng(seed + 1), metric, spherical, tol)


def _renorm(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


def inter_centroid_matrix(centroids: np.ndarray, metric: Metric = Metric.L2) -> np.ndarray:
    """Pairwise centroid-to-centroid distances (B3, Auncel-only delta:
    ``fvec_inter_vecs`` / ``fvec_inter_vecs_IP``, Auncel/IVF_pro.cpp:21-39;
    hooked into training at IndexIVF.cpp:97-111). For IP the reference
    stores acos of the normalized dot (an angle); we do the same.

    Returns a dense symmetric (nlist, nlist) float64 matrix — nlist≈1024
    ⇒ 8 MB, comfortably broadcastable.
    """
    c = np.asarray(centroids, dtype=np.float64)
    if metric == Metric.L2:
        n = (c * c).sum(axis=1)
        d2 = n[:, None] + n[None, :] - 2.0 * (c @ c.T)
        np.fill_diagonal(d2, 0.0)
        return np.sqrt(np.maximum(d2, 0.0))
    cn = _renorm(c)
    cos = np.clip(cn @ cn.T, -1.0, 1.0)
    np.fill_diagonal(cos, 1.0)
    return np.arccos(cos)
