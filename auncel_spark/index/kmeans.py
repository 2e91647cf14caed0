"""Distributed Lloyd's k-means and centroid assignment.

Reference surface (SURVEY.md §2.2 B1-B4):
- ``Clustering::train`` (``Auncel/Clustering.h:56-94``, ``Clustering.cpp``):
  Lloyd's iterations (niter=25 default), random-subset init, optional
  spherical normalization, empty-cluster splitting
  (``utils.h:308-313`` ``km_update_centroids``).
- ``Index::assign`` (``Auncel/Index.h:155``): nearest-centroid labels.

Spark shape: centroids are tiny driver/broadcast state (nlist×d floats,
≤ a few MB at nlist=1024); vectors never leave executors. Each Lloyd's
iteration is one job: per-partition GEMM argmin + partial (sum, count)
per cluster via ``mapInPandas``, combined on the driver (numpy over
≤ partitions×k tiny rows). This is the map-side-combine pattern — the
shuffle-free equivalent of groupBy(cluster).avg over 100 TB of rows.

An explicit ``init="first_k"`` mode (centroids = the k lowest-id
vectors) exists so correctness queries are SQL-oracle-expressible
without replaying random init; benchmarks use seeded random init, as
the reference does (``Clustering.cpp`` subsample + rand perm).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

from auncel_spark.functions.vector import as_matrix
import pandas as pd
from pyspark.sql import DataFrame

from auncel_spark.config import Metric


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str) -> np.ndarray:
    rows = df.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[id_col])
    return np.array([r[vec_col] for r in rows], dtype=np.float64)


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
    from pyspark.sql import types as T

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    is_l2 = metric == Metric.L2
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("list_no", T.IntegerType()),
            T.StructField("cdist", T.DoubleType()),
        ]
    )

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        c_norms = (cents * cents).sum(axis=1)[None, :]
        for pdf in batches:
            if pdf.empty:
                continue
            mat = as_matrix(pdf[vec_col])
            dots = mat @ cents.T
            if is_l2:
                dist = (mat * mat).sum(axis=1)[:, None] + c_norms - 2.0 * dots
            else:
                dist = -dots
            lab = dist.argmin(axis=1)
            yield pdf.assign(
                list_no=lab.astype(np.int32),
                cdist=dist[np.arange(len(lab)), lab],
            )

    return df.mapInPandas(work, schema=out_schema)


def _partial_sums(df: DataFrame, centroids: np.ndarray, metric: Metric, vec_col: str):
    """One Lloyd's half-step: per-partition (cluster, count, sum-vector,
    objective) partials. Returns driver-side combined arrays."""
    spark = df.sparkSession
    d = centroids.shape[1]
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    is_l2 = metric == Metric.L2

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        k = cents.shape[0]
        c_norms = (cents * cents).sum(axis=1)[None, :]
        sums = np.zeros((k, d))
        counts = np.zeros(k, dtype=np.int64)
        obj = 0.0
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            mat = as_matrix(pdf[vec_col])
            dots = mat @ cents.T
            if is_l2:
                dist = (mat * mat).sum(axis=1)[:, None] + c_norms - 2.0 * dots
            else:
                dist = -dots
            lab = dist.argmin(axis=1)
            obj += float(dist[np.arange(len(lab)), lab].sum())
            np.add.at(counts, lab, 1)
            np.add.at(sums, lab, mat)
        if seen:
            yield pd.DataFrame(
                {
                    "cluster": np.arange(k, dtype=np.int32),
                    "cnt": counts,
                    "vsum": list(sums),
                    "obj": [obj] + [0.0] * (k - 1),
                }
            )

    parts = df.select(vec_col).mapInPandas(
        work, schema="cluster int, cnt bigint, vsum array<double>, obj double"
    ).collect()
    k = centroids.shape[0]
    sums = np.zeros((k, d))
    counts = np.zeros(k, dtype=np.int64)
    obj = 0.0
    for r in parts:
        sums[r["cluster"]] += np.array(r["vsum"])
        counts[r["cluster"]] += r["cnt"]
        obj += r["obj"]
    return sums, counts, obj


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

    - ``init="sample"``: k seeded-random distinct rows (reference:
      random perm of a training subsample, Clustering.cpp).
    - ``init="first_k"``: the k lowest-id rows — deterministic,
      SQL-expressible (used by oracle-checked catalog queries).
    - ``spherical``: L2-renormalize centroids after every update
      (Clustering.h ``spherical``; used for IP/cosine metrics).
    - Empty clusters are re-seeded by splitting the largest cluster's
      centroid with a tiny symmetric perturbation, the same fix
      ``km_update_centroids`` applies (utils.h:308-313).

    Each iteration is one distributed pass; driver work is O(k·d).
    """
    if init == "first_k":
        cents = _collect_matrix(
            df.orderBy(id_col).limit(k), id_col, vec_col
        )
    elif init == "sample":
        n = df.count()
        frac = min(1.0, (sample_size * 3.0) / max(n, 1))
        samp = df.sample(fraction=frac, seed=seed).limit(sample_size)
        rows = samp.select(id_col, vec_col).collect()
        rng = np.random.default_rng(seed)
        idx = rng.permutation(len(rows))[:k]
        cents = np.array([rows[i][vec_col] for i in idx], dtype=np.float64)
        if len(cents) < k:
            raise ValueError(f"not enough rows ({len(rows)}) for k={k}")
    else:
        raise ValueError(f"unknown init {init!r}")

    if spherical:
        cents = _renorm(cents)

    history: list[float] = []
    rng = np.random.default_rng(seed + 1)
    for _ in range(max_iter):
        sums, counts, obj = _partial_sums(df, cents, metric, vec_col)
        history.append(obj)
        nonzero = counts > 0
        new = cents.copy()
        new[nonzero] = sums[nonzero] / counts[nonzero, None]
        # empty-cluster splitting (km_update_centroids, utils.h:308-313)
        for ci in np.where(~nonzero)[0]:
            big = int(counts.argmax())
            eps = 1e-4 * (1.0 + np.abs(new[big]))
            sign = rng.choice([-1.0, 1.0], size=new.shape[1])
            new[ci] = new[big] + eps * sign
            new[big] = new[big] - eps * sign
            counts[ci] = counts[big] // 2
            counts[big] -= counts[ci]
        if spherical:
            new = _renorm(new)
        shift = float(((new - cents) ** 2).sum())
        cents = new
        if shift < tol:
            break
    return cents, history


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
