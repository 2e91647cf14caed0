"""IMI — inverted multi-index coarse quantizer.

Reference (SURVEY.md §2.3 O10): ``MultiIndexQuantizer`` /
``IndexPQ.h:135-160``: the coarse quantizer is the cartesian product of
two sub-quantizers over the two vector halves; a cell is
``list_no = a · ksub + b``, giving ksub² cells from 2·ksub centroids —
much finer partitioning for the same training cost.

Spark shape: two argmin columns from two broadcast half-codebooks,
composed into one ``list_no`` — after which the IVF shell (list store,
ranked-list scan, window top-k) is reused unchanged. Probe
ranking sorts cell pairs by the sum of half-distances (the reference's
multi-sequence scan, here exact since nq·ksub² is small driver-side).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auncel_spark.config import Metric
from auncel_spark.functions.vector import map_rows
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.index.kmeans import exact_argmin, train_kmeans


class IMIIndex(IVFIndex):
    """IVFIndex whose quantizer is a 2-way product quantizer. The
    parent's search path works once ``coarse_rank`` and assignment are
    overridden: nlist = ksub²."""

    def __init__(
        self,
        spark: SparkSession,
        sub_centroids: np.ndarray,  # (2, ksub, d/2)
        data_path: str | None,
        metric: Metric = Metric.L2,
        data_df: DataFrame | None = None,
    ):
        self.sub_centroids = np.asarray(sub_centroids, dtype=np.float64)
        self.ksub = self.sub_centroids.shape[1]
        dsub = self.sub_centroids.shape[2]
        # synthesize full-space centroids (concatenation) for the parent
        # machinery (ELP geometry etc. still works on them)
        full = np.concatenate(
            [
                np.repeat(self.sub_centroids[0], self.ksub, axis=0),
                np.tile(self.sub_centroids[1], (self.ksub, 1)),
            ],
            axis=1,
        )
        super().__init__(spark, full, data_path, metric, data_df)

    @classmethod
    def build(
        cls,
        base: DataFrame,
        ksub: int = 32,
        metric: Metric = Metric.L2,
        kmeans_iter: int = 15,
        seed: int = 42,
        sub_centroids: np.ndarray | None = None,
        id_col: str = "id",
        vec_col: str = "vec",
    ) -> "IMIIndex":
        """``sub_centroids`` (2, ksub, d/2) skips the half-space k-means
        — deterministic quantizers for oracle-checked catalog queries
        (the seed-IVF trick applied to the multi-index)."""
        b = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        d = len(b.select("vec").first()[0])
        dsub = d // 2
        if sub_centroids is not None:
            c0, c1 = np.asarray(sub_centroids, dtype=np.float64)
            ksub = c0.shape[0]
        else:
            half0 = b.select("id", F.slice("vec", 1, dsub).alias("vec"))
            half1 = b.select("id", F.slice("vec", dsub + 1, d - dsub).alias("vec"))
            c0, _ = train_kmeans(half0, ksub, metric=metric, max_iter=kmeans_iter, seed=seed)
            c1, _ = train_kmeans(half1, ksub, metric=metric, max_iter=kmeans_iter, seed=seed + 1)
        # assignment: two half-argmins composed into list_no
        def assign(st, mat):
            a0, a1 = st
            n = len(mat)
            l0 = exact_argmin(
                n, a0.size, lambda s: ((mat[s, None, :dsub] - a0[None]) ** 2).sum(-1)
            )
            l1 = exact_argmin(
                n, a1.size, lambda s: ((mat[s, None, dsub:] - a1[None]) ** 2).sum(-1)
            )
            return l0 * ksub + l1

        return cls(
            base.sparkSession, np.stack([c0, c1]), None, metric,
            data_df=map_rows(b, assign, ["vec"], [("list_no", "int")], state=(c0, c1)),
        )

    def coarse_rank(self, qids: np.ndarray, qmat: np.ndarray, nprobe: int):
        """Rank cells by d0(a) + d1(b) — the multi-sequence order."""
        dsub = self.sub_centroids.shape[2]
        q = np.asarray(qmat, dtype=np.float64)
        d0 = ((q[:, None, :dsub] - self.sub_centroids[0][None, :, :]) ** 2).sum(-1)
        d1 = ((q[:, None, dsub:] - self.sub_centroids[1][None, :, :]) ** 2).sum(-1)
        cell = d0[:, :, None] + d1[:, None, :]  # (nq, ksub, ksub)
        flat = cell.reshape(len(q), -1)
        nprobe = min(nprobe, flat.shape[1])
        order = np.argsort(flat, axis=1, kind="stable")[:, :nprobe]
        return order.astype(np.int32), np.take_along_axis(flat, order, axis=1)
