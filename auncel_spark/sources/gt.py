"""Ground-truth generation and dataset sharding.

Reference (SURVEY.md §2.1 S6-S7):
- ``dist/split.cpp:123-145``: shard a base file into per-worker
  halves — in Spark, ``repartition``/``repartitionByRange`` or a
  modulo filter; sharding is a one-liner, kept here for API parity.
- ``dist/gt.cpp:121-216``: per-shard exact kNN via ``IndexFlatL2``
  (:152) written as gtd/gti files. Here: the exact GEMM kNN job writes
  a (qid, pos, gt_id, gt_dist) Parquet table — the oracle is always
  brute force, never the system under test (SURVEY §5.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.config import Metric
from auncel_spark.operators.knn import knn_exact


def shard_by_id(base: DataFrame, num_shards: int, id_col: str = "id") -> list[DataFrame]:
    """S6: deterministic row sharding (id % num_shards); every shard a
    DataFrame over the same storage — no data movement until an action."""
    return [
        base.filter(F.col(id_col) % num_shards == i) for i in range(num_shards)
    ]


def generate_ground_truth(
    queries: DataFrame,
    base: DataFrame,
    max_topk: int = 100,
    metric: Metric = Metric.L2,
    path: str | None = None,
) -> DataFrame:
    """S7: exact top-max_topk per query → (qid, pos, gt_id, gt_dist);
    optionally persisted as the gtd/gti analogue."""
    gt = knn_exact(queries, base, max_topk, metric).select(
        "qid",
        F.col("pos").cast("int").alias("pos"),
        F.col("id").alias("gt_id"),
        F.col("dist").alias("gt_dist"),
    )
    if path is not None:
        gt.write.mode("overwrite").parquet(path)
        return gt.sparkSession.read.parquet(path)
    return gt
