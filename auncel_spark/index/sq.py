"""Scalar quantizer: per-dimension linear codes at 8/6/4 bits or fp16.

Reference (SURVEY.md §2.2 B8): ``ScalarQuantizer``
(``Auncel/IndexScalarQuantizer.h:34-88``, impl ~1864 LoC of SIMD
codecs). Quantizer types mirrored: QT_8bit, QT_6bit, QT_4bit (packed
bit codes over trained per-dimension ranges) and QT_fp16 (raw IEEE
half floats, no training). Code layout matches the reference's
Codec{8bit,6bit,4bit}: k-bit codes over levels = 2^k − 1,
``code = clip(floor((x − vmin)/vdiff · levels), 0, levels)`` and
``decode = vmin + (code + 0.5)/levels · vdiff`` — floor (not round)
keeps the codec expressible in portable SQL for oracle checks.

RangeStat options mirrored: minmax (RS_minmax), meanstd (RS_meanstd ±
rs_arg·σ), quantiles (RS_quantiles: trim rs_arg tail mass per side).
Training is one distributed ``agg`` over per-dim stats; the trained
state (2·d floats) broadcasts.

Packing: 4-bit = 2 codes/byte (low nibble first), 6-bit = 4 codes in 3
bytes (little-endian 24-bit group), matching byte-budget claims in the
reference (4-bit halves the code footprint vs 8-bit).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.functions.vector import as_matrix, map_rows

_LEVELS = {"8bit": 255, "6bit": 63, "4bit": 15}


def _train_optim(x: np.ndarray, k: int, niter: int = 2000) -> tuple[np.ndarray, np.ndarray]:
    """RS_optim: per-dim alternating optimization of reconstruction
    error (``Auncel/IndexScalarQuantizer.cpp:641-693``) — assign codes
    ni = clip(round((x−b)/a), 0, k−1), then refit (a, b) by the
    closed-form least squares over (ni, x); stop a dim after its error
    is unchanged 16 consecutive iterations. Vectorized over ALL dims at
    once (the reference loops dims under OpenMP).

    x: (n, d) float64 sample. Returns (vmin, vdiff) with
    vmin = b, vdiff = a·(k−1) — the codec range."""
    n, d = x.shape
    vmin0 = x.min(axis=0)
    vmax0 = x.max(axis=0)
    b = vmin0.copy()
    a = (vmax0 - vmin0) / (k - 1)
    a[a == 0] = 1.0
    sx = x.sum(axis=0)
    last_err = np.full(d, -1.0)
    streak = np.zeros(d, dtype=np.int64)
    live = np.ones(d, dtype=bool)
    for _ in range(niter):
        if not live.any():
            break
        xl = x[:, live]
        ni = np.clip(np.floor((xl - b[live]) / a[live] + 0.5), 0, k - 1)
        rec = ni * a[live] + b[live]
        err1 = ((xl - rec) ** 2).sum(axis=0)
        same = err1 == last_err[live]
        streak[live] = np.where(same, streak[live] + 1, 0)
        last_err[live] = err1
        sn = ni.sum(axis=0)
        sn2 = (ni * ni).sum(axis=0)
        sxn = (ni * xl).sum(axis=0)
        det = sn * sn - sn2 * n
        ok = det != 0
        nb = np.where(ok, (sn * sxn - sn2 * sx[live]) / np.where(ok, det, 1.0), b[live])
        na = np.where(ok, (sn * sx[live] - n * sxn) / np.where(ok, det, 1.0), a[live])
        b[live] = nb
        a[live] = na
        live[live] = streak[live] < 16
    vdiff = a * (k - 1)
    vdiff[vdiff == 0] = 1.0
    return b, vdiff


class ScalarQuantizer:
    def __init__(self, vmin: np.ndarray, vdiff: np.ndarray, qtype: str = "8bit"):
        if qtype not in _LEVELS and qtype != "fp16":
            raise ValueError(f"unknown qtype {qtype!r}")
        self.vmin = np.asarray(vmin, dtype=np.float64)
        self.vdiff = np.asarray(vdiff, dtype=np.float64)
        self.qtype = qtype
        self.levels = _LEVELS.get(qtype)
        self.d = len(self.vmin)

    @property
    def code_bytes(self) -> int:
        if self.qtype == "fp16":
            return 2 * self.d
        if self.qtype == "8bit":
            return self.d
        if self.qtype == "4bit":
            return (self.d + 1) // 2
        return ((self.d + 3) // 4) * 3  # 6bit

    @classmethod
    def train(
        cls,
        df: DataFrame,
        vec_col: str = "vec",
        rangestat: str = "minmax",
        rs_arg: float = 1.0,
        qtype: str = "8bit",
    ) -> "ScalarQuantizer":
        """One aggregation pass: per-dim stats via posexplode →
        groupBy(dim). At 100 TB this is a map-side-combined agg over
        d·n values — no vector ever leaves its executor whole. fp16
        needs no statistics (raw half-float storage)."""
        if qtype == "fp16":
            d = len(df.select(vec_col).first()[0])
            return cls(np.zeros(d), np.ones(d), "fp16")
        ex = df.select(F.posexplode(vec_col).alias("dim", "v"))
        if rangestat == "minmax":
            stats = ex.groupBy("dim").agg(
                F.min("v").alias("lo"), F.max("v").alias("hi")
            )
        elif rangestat == "meanstd":
            stats = ex.groupBy("dim").agg(
                (F.avg("v") - rs_arg * F.stddev_pop("v")).alias("lo"),
                (F.avg("v") + rs_arg * F.stddev_pop("v")).alias("hi"),
            )
        elif rangestat == "quantiles":
            # RS_quantiles (IndexScalarQuantizer.h:55): trim rs_arg tail
            # mass per side so outliers don't stretch the code range
            stats = ex.groupBy("dim").agg(
                F.percentile_approx("v", rs_arg).alias("lo"),
                F.percentile_approx("v", 1.0 - rs_arg).alias("hi"),
            )
        elif rangestat == "optim":
            # RS_optim needs thousands of tiny refit iterations — a
            # driver-side numpy fit on a bounded sample (the OPQ
            # pattern, SURVEY B10), not 2000 distributed aggs. The
            # sample bound keeps driver memory flat at any corpus size.
            pdf = df.select(vec_col).limit(100_000).toPandas()
            x = as_matrix(pdf[vec_col])
            lo, diff = _train_optim(x, _LEVELS[qtype] + 1)
            return cls(lo, diff, qtype)
        else:
            raise ValueError(f"unknown rangestat {rangestat!r}")
        rows = stats.collect()
        lo = np.empty(len(rows))
        hi = np.empty(len(rows))
        for r in rows:
            lo[r["dim"]] = r["lo"]
            hi[r["dim"]] = r["hi"]
        diff = hi - lo
        diff[diff == 0] = 1.0
        return cls(lo, diff, qtype)

    # --- bit packing ------------------------------------------------------

    def _pack(self, c: np.ndarray) -> np.ndarray:
        """(n, d) small-int codes → (n, code_bytes) uint8."""
        if self.qtype == "8bit":
            return c
        n, d = c.shape
        if self.qtype == "4bit":
            if d % 2:
                c = np.concatenate([c, np.zeros((n, 1), dtype=np.uint8)], axis=1)
            return (c[:, 0::2] | (c[:, 1::2] << 4)).astype(np.uint8)
        # 6bit: groups of 4 codes -> 24-bit little-endian -> 3 bytes
        pad = (-d) % 4
        if pad:
            c = np.concatenate([c, np.zeros((n, pad), dtype=np.uint8)], axis=1)
        g = c.reshape(n, -1, 4).astype(np.uint32)
        u32 = g[:, :, 0] | (g[:, :, 1] << 6) | (g[:, :, 2] << 12) | (g[:, :, 3] << 18)
        by = u32.astype("<u4").view(np.uint8).reshape(n, -1, 4)[:, :, :3]
        return by.reshape(n, -1)

    def _unpack(self, b: np.ndarray) -> np.ndarray:
        """(n, code_bytes) uint8 → (n, d) codes."""
        if self.qtype == "8bit":
            return b[:, : self.d]
        n = b.shape[0]
        if self.qtype == "4bit":
            out = np.empty((n, b.shape[1] * 2), dtype=np.uint8)
            out[:, 0::2] = b & 0x0F
            out[:, 1::2] = b >> 4
            return out[:, : self.d]
        grp = b.reshape(n, -1, 3).astype(np.uint32)
        u32 = grp[:, :, 0] | (grp[:, :, 1] << 8) | (grp[:, :, 2] << 16)
        codes = np.stack(
            [(u32 >> (6 * i)) & 0x3F for i in range(4)], axis=2
        ).reshape(n, -1)
        return codes[:, : self.d].astype(np.uint8)

    # --- numpy codecs (shared by the Spark kernels below) -----------------

    def encode_np(self, x: np.ndarray) -> np.ndarray:
        x = np.asarray(x, dtype=np.float64)
        if self.qtype == "fp16":
            return x.astype("<f2").view(np.uint8).reshape(x.shape[0], -1)
        q = (x - self.vmin) / self.vdiff
        c = np.clip(np.floor(q * self.levels), 0, self.levels).astype(np.uint8)
        return self._pack(c)

    def decode_np(self, codes: np.ndarray) -> np.ndarray:
        if self.qtype == "fp16":
            return (
                codes.astype(np.uint8)
                .reshape(codes.shape[0], -1)
                .view("<f2")
                .astype(np.float64)[:, : self.d]
            )
        c = self._unpack(np.asarray(codes, dtype=np.uint8))
        return self.vmin + (c.astype(np.float64) + 0.5) / self.levels * self.vdiff

    def encode(self, df: DataFrame, vec_col: str = "vec", code_col: str = "code") -> DataFrame:
        return map_rows(
            df, lambda sq, x: sq.encode_np(x),
            [vec_col], [(code_col, "binary")], state=self,
        )

    def decode(self, df: DataFrame, code_col: str = "code", out_col: str = "vec_dec") -> DataFrame:
        return map_rows(
            df, lambda sq, c: sq.decode_np(c),
            [code_col], [(out_col, "array<float>")], state=self,
        )

    def to_dict(self) -> dict:
        return {
            "vmin": self.vmin.tolist(),
            "vdiff": self.vdiff.tolist(),
            "qtype": self.qtype,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "ScalarQuantizer":
        return cls(np.array(d["vmin"]), np.array(d["vdiff"]), d.get("qtype", "8bit"))
