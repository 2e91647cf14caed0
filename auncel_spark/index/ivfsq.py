"""IVF-SQ: inverted lists storing scalar-quantized codes.

Reference (SURVEY.md §2.2 B8): ``IndexIVFScalarQuantizer``
(``Auncel/IndexScalarQuantizer.h:90-150``): lists hold SQ codes
(d bytes/vector at QT_8bit, d/2 at QT_4bit, 3d/4 at QT_6bit, 2d at
QT_fp16), decoded on the fly inside the scan. Same storage layout and
probe machinery as IVF-Flat/IVF-PQ: the codes are the ``code`` column
of the index's list store, and the scan kernel decodes each list with
the broadcast quantizer state before the GEMM.
"""

from __future__ import annotations

import json
import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auncel_spark.config import DEFAULT_NLIST, Metric
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.index.kmeans import assign_lists, train_kmeans
from auncel_spark.index.sq import ScalarQuantizer


class IVFSQIndex(IVFIndex):
    columns = ("code",)

    def __init__(
        self,
        spark: SparkSession,
        centroids: np.ndarray,
        sq: ScalarQuantizer,
        data_path: str | None,
        metric: Metric = Metric.L2,
        data_df: DataFrame | None = None,
    ):
        super().__init__(spark, centroids, data_path, metric, data_df)
        self.sq = sq

    @classmethod
    def build(
        cls,
        base: DataFrame,
        nlist: int = DEFAULT_NLIST,
        metric: Metric = Metric.L2,
        path: str | None = None,
        centroids: np.ndarray | None = None,
        kmeans_iter: int = 25,
        seed: int = 42,
        qtype: str = "8bit",
        rangestat: str = "minmax",
        rs_arg: float = 1.0,
        id_col: str = "id",
        vec_col: str = "vec",
    ) -> "IVFSQIndex":
        spark = base.sparkSession
        b = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        if centroids is None:
            centroids, _ = train_kmeans(
                b, nlist, metric=metric, max_iter=kmeans_iter, seed=seed,
                spherical=(metric == Metric.IP),
            )
        centroids = np.asarray(centroids, dtype=np.float64)
        sq = ScalarQuantizer.train(b, rangestat=rangestat, rs_arg=rs_arg, qtype=qtype)
        idx = cls(spark, centroids, sq, path, metric)
        idx._write_lists(sq.encode(assign_lists(b, centroids, metric)), path)
        if path is not None:
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump(
                    {
                        "kind": "ivfsq",
                        "nlist": idx.nlist,
                        "d": idx.d,
                        "metric": metric.value,
                        "sq": sq.to_dict(),
                    },
                    f,
                )
            np.save(os.path.join(path, "centroids.npy"), centroids)
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFSQIndex":
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        centroids = np.load(os.path.join(path, "centroids.npy"))
        return cls(
            spark,
            centroids,
            ScalarQuantizer.from_dict(meta["sq"]),
            path,
            Metric(meta["metric"]),
        )

    def _scanner(self):
        """The store and its code-decoding scanner (index/scan.py)."""
        from auncel_spark.index.scan import SQScanner

        return self.store, SQScanner(self.sq)
