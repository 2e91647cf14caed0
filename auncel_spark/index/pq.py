"""Product quantizer: codebook training, codec, ADC scanning.

Reference (SURVEY.md §2.2 B6-B7, §2.3 O8):
- ``ProductQuantizer`` (``Auncel/ProductQuantizer.h:23-162``, .cpp 876
  LoC): d split into M sub-vectors of dsub dims; per-subspace k-means
  with ksub = 2^nbits centroids (nbits=8 ⇒ 1 byte per subspace);
  ``compute_code(s)`` = per-subspace argmin; asymmetric distance
  computation (ADC) via per-query M×ksub lookup tables
  (``ProductQuantizer.h:106-137``).
- ``IndexIVFPQ`` (``Auncel/IndexIVFPQ.h:34-130``): IVF shell whose
  lists store codes; optional residual encoding (``by_residual``).

Spark shape: codebooks are tiny (M·ksub·dsub floats = d·256 ≈ 64 KB)
→ trained driver-side on a bounded seeded sample (the reference also
trains on ≤ max_train_points sampled rows, ProductQuantizer.cpp) and
broadcast. Encoding is a numpy kernel over Arrow batches (``map_rows``);
ADC scans run in the ranked-list scan (index/scan.py ``PQScanner``) or,
flat, in ``_flat_partials``, and a window top-k merges their partials
as for IVF-Flat. Codes cut scan+shuffle bytes by
d·4/M (32× at d=64, M=8) — the 100 TB path (SURVEY §7.3 "Scale").
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from auncel_spark.config import Metric
from auncel_spark.functions.vector import ids_codes_from_arrow, map_rows
from auncel_spark.index.kmeans import exact_argmin, lloyd, sample_matrix
from auncel_spark.operators.knn import _flat_partials
from auncel_spark.operators.topk import topk_per_query


def train_codebook(x: np.ndarray, k: int, n_iter: int, seed: int) -> np.ndarray:
    """``kmeans.lloyd`` from k seeded-permutation rows of ``x`` (padded
    with jittered copies when x has fewer): one sub-codebook."""
    rng = np.random.default_rng(seed)
    n = x.shape[0]
    k_eff = min(k, n)
    cents = x[rng.permutation(n)[:k_eff]].copy()
    if k_eff < k:
        cents = np.vstack([cents, cents[rng.integers(0, k_eff, k - k_eff)] + 1e-6])
    return lloyd(x, cents, n_iter, rng)[0]


class ProductQuantizer:
    def __init__(self, codebooks: np.ndarray):
        # codebooks: (M, ksub, dsub)
        self.codebooks = np.asarray(codebooks, dtype=np.float64)
        self.M, self.ksub, self.dsub = self.codebooks.shape
        self.d = self.M * self.dsub

    @classmethod
    def train(
        cls,
        df: DataFrame,
        M: int = 8,
        nbits: int = 8,
        vec_col: str = "vec",
        sample_size: int = 16384,
        n_iter: int = 25,
        seed: int = 42,
    ) -> "ProductQuantizer":
        x = sample_matrix(df, vec_col, sample_size, 1.2, seed)
        d = x.shape[1]
        if d % M != 0:
            raise ValueError(f"d={d} not divisible by M={M}")
        dsub, ksub = d // M, 1 << nbits
        books = np.stack(
            [
                train_codebook(x[:, m * dsub : (m + 1) * dsub], ksub, n_iter, seed + m)
                for m in range(M)
            ]
        )
        return cls(books)

    # --- numpy kernels ---------------------------------------------------

    def encode_np(self, x: np.ndarray, gemm: bool = False) -> np.ndarray:
        """Per-subspace argmin encode. ``gemm=False`` (default) uses the
        exact |s − c|² broadcast — bit-matched to the SQL oracles'
        list_distance replay, in row blocks (``exact_argmin``).
        ``gemm=True`` uses argmin(|c|² − 2·s·cᵀ) — same argmin up to
        float rounding on near-ties, O(n·ksub) memory and BLAS-bound;
        the big-tier build path (10⁸-row encodes) sets it."""
        n = x.shape[0]
        codes = np.empty((n, self.M), dtype=np.uint8)
        for m in range(self.M):
            sub = x[:, m * self.dsub : (m + 1) * self.dsub]
            cb = self.codebooks[m]
            if gemm:
                d = (cb * cb).sum(-1)[None, :] - 2.0 * (sub @ cb.T)
                codes[:, m] = d.argmin(axis=1)
            else:
                codes[:, m] = exact_argmin(
                    n, self.ksub * self.dsub,
                    lambda s: ((sub[s, None, :] - cb[None, :, :]) ** 2).sum(-1),
                )
        return codes

    def decode_np(self, codes: np.ndarray) -> np.ndarray:
        out = np.empty((codes.shape[0], self.d))
        for m in range(self.M):
            out[:, m * self.dsub : (m + 1) * self.dsub] = self.codebooks[m][codes[:, m]]
        return out

    def lut_np(self, q: np.ndarray, metric: Metric) -> np.ndarray:
        """Per-query ADC tables (ProductQuantizer.h:106-137):
        LUT[m][j] = dist(q_sub_m, codebook[m][j]); candidate distance =
        Σ_m LUT[m][code_m]. For IP the engine's ascending convention
        uses −dot."""
        lut = np.empty((self.M, self.ksub))
        for m in range(self.M):
            qs = q[m * self.dsub : (m + 1) * self.dsub]
            cb = self.codebooks[m]
            if metric == Metric.L2:
                lut[m] = ((cb - qs[None, :]) ** 2).sum(-1)
            else:
                lut[m] = -(cb @ qs)
        return lut

    # --- Spark codecs ----------------------------------------------------

    def encode(
        self,
        df: DataFrame,
        vec_col: str = "vec",
        code_col: str = "code",
        gemm: bool = False,
    ) -> DataFrame:
        return map_rows(
            df, lambda pq, x: pq.encode_np(x, gemm=gemm),
            [vec_col], [(code_col, "binary")], state=self,
        )

    def decode(self, df: DataFrame, code_col: str = "code", out_col: str = "vec_dec") -> DataFrame:
        return map_rows(
            df, lambda pq, c: pq.decode_np(c),
            [code_col], [(out_col, "array<float>")], state=self,
        )

    def to_dict(self) -> dict:
        return {"codebooks": self.codebooks.tolist()}

    @classmethod
    def from_dict(cls, d: dict) -> "ProductQuantizer":
        return cls(np.array(d["codebooks"]))


def pq_knn(
    queries: DataFrame,
    coded_base: DataFrame,
    pq: ProductQuantizer,
    k: int,
    metric: Metric = Metric.L2,
    code_col: str = "code",
) -> DataFrame:
    """Flat ADC search over a coded table (IndexPQ::search, ST_PQ mode,
    Auncel/IndexPQ.h:74-91): the ``knn_exact`` scan (``_flat_partials``)
    with a per-query LUT gather-sum as the distance block.

    Approximation contract: distances are ADC estimates; callers wanting
    exact ranks re-rank the pool with ``ListStore.refine_topk`` (O9 /
    IndexRefineFlat; the factory's ``RFlat``)."""
    books = queries.sparkSession.sparkContext.broadcast(pq.codebooks)

    def kernel(qmat):
        adc = ProductQuantizer(books.value)
        luts = np.stack([adc.lut_np(q, metric) for q in qmat])  # (nq, M, ksub)
        sub = np.arange(adc.M)[None, :]
        # (nq, n, M) gather, summed per row
        return lambda codes: luts[:, sub, codes].sum(axis=2)

    partial = _flat_partials(
        queries.select("qid", "vec"),
        coded_base.select("id", code_col),
        k,
        kernel,
        decode=ids_codes_from_arrow,
    )
    return topk_per_query(partial, k).select("qid", "pos", "id", "dist")
