"""Vector transforms: linear maps and pre-transform chains.

Reference (SURVEY.md §2.2 B9-B11):
- ``VectorTransform`` hierarchy (``Auncel/VectorTransform.h:30-330``):
  ``PCAMatrix`` (train on sample, optional whitening),
  ``RandomRotationMatrix``, ``OPQMatrix`` (iterative rotation
  minimizing PQ reconstruction error, CVPR'13 non-parametric),
  ``NormalizationTransform``, ``CenteringTransform``,
  ``RemapDimensionsTransform``, chained by ``IndexPreTransform``
  (``VectorTransform.h:292-330``).

Spark shape: every transform's trained state is a small matrix/vector
(d_in×d_out ≤ a few MB) — train on a driver-side seeded sample (the
reference caps training at ``max_train_points``, VectorTransform.h:196)
or a distributed agg, broadcast, and apply as one Arrow-batched GEMM
per partition. Chains compose into a single fused matrix multiply
where possible (linear ∘ linear = one GEMM — better than the
reference's sequential apply).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.functions.vector import map_rows
from auncel_spark.index.kmeans import exact_argmin, sample_matrix


class VectorTransform:
    """Base: y = f(x). Subclasses implement ``apply_np``; ``apply``
    runs it Arrow-batched over a DataFrame column."""

    d_in: int
    d_out: int

    def apply_np(self, x: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def apply(self, df: DataFrame, vec_col: str = "vec", out_col: str | None = None) -> DataFrame:
        out_col = out_col or vec_col
        return map_rows(
            df, lambda vt, x: vt.apply_np(x), [vec_col], [(out_col, "array<float>")],
            keep=[c for c in df.columns if c != out_col], state=self,
        )

    def to_dict(self) -> dict:
        raise NotImplementedError


class LinearTransform(VectorTransform):
    """y = A x + b (``LinearTransform``, VectorTransform.h:74-110)."""

    def __init__(self, A: np.ndarray, b: np.ndarray | None = None):
        self.A = np.asarray(A, dtype=np.float64)
        self.d_out, self.d_in = self.A.shape
        self.b = np.zeros(self.d_out) if b is None else np.asarray(b, dtype=np.float64)

    def apply_np(self, x: np.ndarray) -> np.ndarray:
        return x @ self.A.T + self.b

    def to_dict(self) -> dict:
        return {"kind": "linear", "A": self.A.tolist(), "b": self.b.tolist()}


class RandomRotation(LinearTransform):
    """Seeded orthonormal rotation (``RandomRotationMatrix``,
    VectorTransform.h:115-130): QR of a gaussian matrix."""

    def __init__(self, d: int, seed: int = 42):
        rng = np.random.default_rng(seed)
        q, r = np.linalg.qr(rng.standard_normal((d, d)))
        q *= np.sign(np.diag(r))  # deterministic sign convention
        super().__init__(q)


class PCATransform(LinearTransform):
    """PCA / whitening (``PCAMatrix``, VectorTransform.h:135-175)."""

    @classmethod
    def train(
        cls,
        df: DataFrame,
        d_out: int,
        vec_col: str = "vec",
        whiten: bool = False,
        eigen_power: float = 0.0,
        sample_size: int = 16384,
        seed: int = 42,
    ) -> "PCATransform":
        x = sample_matrix(df, vec_col, sample_size, 1.2, seed)
        mu = x.mean(axis=0)
        xc = x - mu
        cov = xc.T @ xc / max(len(x) - 1, 1)
        w, v = np.linalg.eigh(cov)
        order = np.argsort(w)[::-1][:d_out]
        w, v = w[order], v[:, order]
        # deterministic eigenvector signs
        signs = np.sign(v[np.abs(v).argmax(axis=0), np.arange(v.shape[1])])
        v = v * signs
        A = v.T
        power = -0.5 if whiten else eigen_power / 2 if eigen_power else None
        if power is not None:
            A = (np.maximum(w, 1e-12) ** power)[:, None] * A
        t = cls(A, -(A @ mu))
        t.explained_variance = w
        return t


class OPQTransform(LinearTransform):
    """OPQ rotation (``OPQMatrix::train``, VectorTransform.h:188-207):
    alternate (1) PQ codebook fit on rotated sample, (2) orthogonal
    Procrustes solve R = UVᵀ of X·Ŷᵀ. Driver-side on the sample, as the
    reference caps at max_train_points."""

    @classmethod
    def train(
        cls,
        df: DataFrame,
        M: int,
        vec_col: str = "vec",
        n_iter: int = 10,
        sample_size: int = 8192,
        seed: int = 42,
    ) -> "OPQTransform":
        from auncel_spark.index.pq import train_codebook

        x = sample_matrix(df, vec_col, sample_size, 1.2, seed)
        d = x.shape[1]
        dsub = d // M
        R = np.eye(d)
        for it in range(n_iter):
            xr = x @ R.T
            # quantize each subspace (few Lloyd iters per OPQ step)
            xhat = np.empty_like(xr)
            for m in range(M):
                sl = slice(m * dsub, (m + 1) * dsub)
                cents = train_codebook(xr[:, sl], min(256, len(x)), 4, seed + it * M + m)
                lab = exact_argmin(
                    len(xr), cents.size,
                    lambda s: ((xr[s, sl, None] - cents.T[None, :, :]) ** 2).sum(1),
                )
                xhat[:, sl] = cents[lab]
            u, _, vt = np.linalg.svd(x.T @ xhat)
            R = (u @ vt).T
        return cls(R)


class NormalizationTransform(VectorTransform):
    """L2-normalize (``NormalizationTransform``, VectorTransform.h:240)."""

    def __init__(self, d: int):
        self.d_in = self.d_out = d

    def apply_np(self, x: np.ndarray) -> np.ndarray:
        n = np.linalg.norm(x, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return x / n

    def to_dict(self) -> dict:
        return {"kind": "normalize", "d": self.d_in}


class CenteringTransform(VectorTransform):
    """Subtract the training mean (``CenteringTransform``,
    VectorTransform.h:254). Trained by a distributed avg."""

    def __init__(self, mu: np.ndarray):
        self.mu = np.asarray(mu, dtype=np.float64)
        self.d_in = self.d_out = len(self.mu)

    @classmethod
    def train(cls, df: DataFrame, vec_col: str = "vec") -> "CenteringTransform":
        rows = (
            df.select(F.posexplode(vec_col).alias("dim", "v"))
            .groupBy("dim")
            .agg(F.avg("v").alias("mu"))
            .collect()
        )
        mu = np.empty(len(rows))
        for r in rows:
            mu[r["dim"]] = r["mu"]
        return cls(mu)

    def apply_np(self, x: np.ndarray) -> np.ndarray:
        return x - self.mu

    def to_dict(self) -> dict:
        return {"kind": "center", "mu": self.mu.tolist()}


class RemapDimensionsTransform(VectorTransform):
    """Select/reorder/pad dimensions (``RemapDimensionsTransform``,
    VectorTransform.h:269): map[i] = source dim or -1 for zero-fill."""

    def __init__(self, d_in: int, dim_map: np.ndarray):
        self.d_in = d_in
        self.dim_map = np.asarray(dim_map, dtype=np.int64)
        self.d_out = len(self.dim_map)

    def apply_np(self, x: np.ndarray) -> np.ndarray:
        out = np.zeros((x.shape[0], self.d_out))
        ok = self.dim_map >= 0
        out[:, ok] = x[:, self.dim_map[ok]]
        return out

    def to_dict(self) -> dict:
        return {"kind": "remap", "d_in": self.d_in, "map": self.dim_map.tolist()}


class TransformChain(VectorTransform):
    """``IndexPreTransform``'s chain. Consecutive linear transforms are
    fused into a single GEMM at construction."""

    def __init__(self, transforms: list[VectorTransform]):
        self.transforms = self._fuse(transforms)
        self.d_in = transforms[0].d_in if transforms else 0
        self.d_out = transforms[-1].d_out if transforms else 0

    @staticmethod
    def _fuse(ts: list[VectorTransform]) -> list[VectorTransform]:
        out: list[VectorTransform] = []
        for t in ts:
            if out and isinstance(t, LinearTransform) and isinstance(out[-1], LinearTransform):
                prev = out.pop()
                A = t.A @ prev.A
                b = t.A @ prev.b + t.b
                out.append(LinearTransform(A, b))
            else:
                out.append(t)
        return out

    def apply_np(self, x: np.ndarray) -> np.ndarray:
        for t in self.transforms:
            x = t.apply_np(x)
        return x

    def to_dict(self) -> dict:
        return {"kind": "chain", "transforms": [t.to_dict() for t in self.transforms]}


def transform_from_dict(d: dict) -> VectorTransform:
    kind = d["kind"]
    if kind == "linear":
        return LinearTransform(np.array(d["A"]), np.array(d["b"]))
    if kind == "normalize":
        return NormalizationTransform(d["d"])
    if kind == "center":
        return CenteringTransform(np.array(d["mu"]))
    if kind == "remap":
        return RemapDimensionsTransform(d["d_in"], np.array(d["map"]))
    if kind == "chain":
        return TransformChain([transform_from_dict(t) for t in d["transforms"]])
    raise ValueError(f"unknown transform kind {kind!r}")
