"""IndexFlat variants and matrix statistics.

Reference (SURVEY.md §2.3 O5, O31):
- ``IndexFlatL2BaseShift`` (``Auncel/IndexFlat.h:84-95``): L2 search
  with a per-database-vector shift subtracted from every distance
  (used for asymmetric corrections).
- ``IndexFlat1D`` (``Auncel/IndexFlat.h:136-158``): 1-D corpus kept
  sorted; kNN by binary search + two-pointer walk — relationally, an
  ORDER BY abs(x − q) LIMIT k.
- ``MatrixStats`` (``Auncel/AutoTune.h:218-252``): per-dimension
  profile of a vector corpus (min/max/mean/stddev, zero/invalid
  counts) used to sanity-check inputs before indexing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.config import Metric
from auncel_spark.functions.vector import ids_mat_from_arrow
from auncel_spark.operators.knn import _flat_partials, _metric_dist
from auncel_spark.operators.topk import topk_per_query


def knn_base_shift(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    shift_col: str = "shift",
    qid_col: str = "qid",
    q_vec_col: str = "vec",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """O5 BaseShift: rank by L2²(q, x) − shift(x). The ``knn_exact``
    scan (``_flat_partials``) with the per-row shift subtracted from
    each L2² distance block."""
    import numpy as np

    def decode(batch):
        ids, mat = ids_mat_from_arrow(batch)
        shift = batch.column(2).to_numpy(zero_copy_only=False).astype(np.float64)
        return ids, mat, shift

    def kernel(qmat):
        q_norms = (qmat * qmat).sum(axis=1)[:, None]
        return (
            lambda mat, shift: _metric_dist(Metric.L2, qmat @ mat.T, q_norms, mat)
            - shift[None, :]
        )

    partial = _flat_partials(
        queries.select(qid_col, q_vec_col),
        base.select(id_col, vec_col, shift_col),
        k,
        kernel,
        decode=decode,
    )
    return topk_per_query(partial, k).select("qid", "pos", "id", "dist")


def knn_1d(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    qid_col: str = "qid",
    q_val_col: str = "val",
    id_col: str = "id",
    val_col: str = "val",
) -> DataFrame:
    """O5 Flat1D: nearest scalars by |x − q|; Catalyst turns the
    window into per-query TopK — no full sort of the corpus."""
    q = queries.select(F.col(qid_col).alias("qid"), F.col(q_val_col).alias("_qv"))
    b = base.select(F.col(id_col).alias("id"), F.col(val_col).alias("_bv"))
    scored = b.join(F.broadcast(q)).select(
        "qid", "id", F.abs(F.col("_qv") - F.col("_bv")).cast("double").alias("dist")
    )
    return topk_per_query(scored, k).select("qid", "pos", "id", "dist")


def matrix_stats(df: DataFrame, vec_col: str = "vec") -> DataFrame:
    """O31 MatrixStats: per-dimension corpus profile. One distributed
    agg over posexploded components (map-side combined)."""
    ex = df.select(F.posexplode(vec_col).alias("dim", "v"))
    return (
        ex.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.avg("v").alias("mean_v"),
            F.stddev_pop("v").alias("std_v"),
            F.sum(F.when(F.col("v") == 0.0, 1).otherwise(0)).alias("n_zero"),
            F.sum(F.when(F.isnan("v") | F.col("v").isNull(), 1).otherwise(0)).alias(
                "n_invalid"
            ),
        )
        .orderBy("dim")
    )
