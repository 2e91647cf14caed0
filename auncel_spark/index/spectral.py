"""Spectral-hash binarization (the missing half of B14).

Reference: ``IndexIVFSpectralHash`` (``Auncel/IndexIVFSpectralHash.h:31-
76``): vectors are linearly transformed (PCA / random rotation), each
output dimension is thresholded (``Thresh_global`` / ``Thresh_median``
/ ``Thresh_centroid``), and the sign pattern becomes a compact binary
code searched by Hamming distance — binarization that adapts to the
data distribution, unlike sign-LSH's data-independent hyperplanes.

Spark shape: train = one PCA fit + one per-dim median aggregation
(``percentile_approx``); encode = one Arrow-batched kernel (transform,
threshold, packbits); search reuses the binary Hamming machinery
(index/binary.py — popcount over broadcast codes).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.functions.vector import map_rows
from auncel_spark.index.binary import hamming_knn, pack_bits_np
from auncel_spark.index.transforms import PCATransform


class SpectralHash:
    """Trained spectral-hash codec: x → pack(PCA(x) > thresholds)."""

    def __init__(self, pca: PCATransform, thresholds: np.ndarray):
        self.pca = pca
        self.thresholds = np.asarray(thresholds, dtype=np.float64)
        self.nbits = len(self.thresholds)

    @classmethod
    def train(
        cls,
        df: DataFrame,
        nbits: int = 32,
        threshold_type: str = "median",
        seed: int = 42,
        vec_col: str = "vec",
    ) -> "SpectralHash":
        """PCA to nbits dims, then per-dim thresholds.

        threshold_type="median" (Thresh_median): per-dim 50th
        percentile — each bit is on for half the corpus, maximizing
        per-bit entropy. "global" (Thresh_global): threshold 0.
        """
        pca = PCATransform.train(df, nbits, seed=seed, vec_col=vec_col)
        if threshold_type == "global":
            th = np.zeros(nbits)
        elif threshold_type == "median":
            proj = pca.apply(df, vec_col=vec_col)
            ex = proj.select(F.posexplode(vec_col).alias("dim", "v"))
            rows = ex.groupBy("dim").agg(
                F.percentile_approx("v", 0.5).alias("med")
            ).collect()
            th = np.zeros(nbits)
            for r in rows:
                th[r["dim"]] = r["med"]
        else:
            raise ValueError(f"unknown threshold_type {threshold_type!r}")
        return cls(pca, th)

    def encode_np(self, x: np.ndarray) -> np.ndarray:
        proj = self.pca.apply_np(np.asarray(x, dtype=np.float64))
        return pack_bits_np(proj > self.thresholds[None, :])

    def encode(
        self, df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> DataFrame:
        """(id, bits): packed spectral-hash codes."""
        return map_rows(
            df, lambda sh, ids, x: (ids, sh.encode_np(x)), [id_col, vec_col],
            [("id", "bigint"), ("bits", "binary")], keep=[], state=self,
        )

    def knn(
        self,
        queries: DataFrame,
        base_codes: DataFrame,
        k: int,
        qid_col: str = "qid",
        vec_col: str = "vec",
    ) -> DataFrame:
        """Hamming top-k of encoded queries against pre-encoded base
        codes (id, bits)."""
        qcodes = self.encode(queries, id_col=qid_col, vec_col=vec_col).select(
            F.col("id").alias("qid"), "bits"
        )
        return hamming_knn(qcodes, base_codes, k)
