"""LAET-style learned early termination (comparison system).

Reference (SURVEY.md §2.2 B18): the LAET fork (SIGMOD'20 "Learned
Adaptive Early Termination") trains a LightGBM regressor to predict
each query's minimal sufficient probe count, then searches with
``nprobe_i = multiplier · prediction`` capped at ``pred_max``
(``LAET/IndexIVF.h:114,118,131,205``; training pipeline
``LAET/benchs/learned_termination/train_gbdt.py:14-115``).

Spark re-expression: features come from the coarse ranking (already
computed for every search); labels are each training query's true
minimal stage (found by replaying the staged sweep against ground
truth — one pass, no per-nprobe re-search); the model is
``pyspark.ml.regression.GBTRegressor``. Online, predictions set a
per-query fixed probe target and the staged delta-scan loop retires
each query at its target — per-query adaptivity without Auncel's
geometric machinery (the experimental contrast the paper draws).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from auncel_spark.index.ivf import IVFIndex
from auncel_spark.profile.error_profile import ErrorProfile


class LearnedTermination:
    def __init__(self, index: IVFIndex, max_topk: int = 100, multiplier: float = 1.0):
        self.index = index
        self.max_topk = max_topk
        self.multiplier = multiplier  # LAET's "multipler = nprobe/100" knob
        self.model = None
        self._helper = ErrorProfile(index, max_topk=max_topk)

    # feature vector per query: coarse-distance shape + query norm
    def _features(self, qmat: np.ndarray, cdist: np.ndarray) -> np.ndarray:
        c0 = cdist[:, 0]
        safe = np.where(c0 == 0, 1.0, c0)
        n_take = min(10, cdist.shape[1]) - 1
        rat = cdist[:, 1 : 1 + n_take] / safe[:, None]
        norm = np.linalg.norm(qmat, axis=1)
        return np.column_stack([c0, rat, norm])

    def fit(
        self,
        train_queries: DataFrame,
        topk: int,
        target_recall: float = 0.9,
        gt_dists: np.ndarray | None = None,
        gbt_iter: int = 8,
    ) -> "LearnedTermination":
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.regression import GBTRegressor

        if gt_dists is None:
            gt_dists = self._helper._exact_gt(train_queries)
        stages = self._helper._all_stages()
        sweep = self._helper._sweep_states(train_queries, stages)
        qids = sweep["qids"]
        # gt rows are ascending-qid; sweep rows follow collect order
        gt_dists = self._helper._align_gt(gt_dists, qids)
        gt_kth = gt_dists[:, topk - 1]
        # label: smallest stage whose state meets the recall target
        labels = np.full(len(qids), float(np.log2(stages[-1])))
        for si, st in enumerate(stages):
            d = sweep["states_d"][si][:, :topk]
            ok = (d <= gt_kth[:, None] + 1e-6).sum(axis=1) / topk >= target_recall
            fresh = ok & (labels == float(np.log2(stages[-1])))
            # only set once (first satisfying stage)
            if si < len(stages) - 1:
                labels[fresh] = float(si)

        feats = self._features(sweep["qmat"], sweep["cdist"])
        spark = self.index.spark
        rows = [
            ([float(v) for v in feats[i]], float(labels[i])) for i in range(len(qids))
        ]
        df = spark.createDataFrame(rows, "raw array<double>, label double")
        from pyspark.ml.functions import array_to_vector

        df = df.select(array_to_vector("raw").alias("features"), "label")
        # each boosting round is several Spark jobs; 8 rounds suffice
        # for the 11-feature budget regression (LightGBM in the
        # reference uses early stopping similarly)
        gbt = GBTRegressor(maxIter=gbt_iter, maxDepth=4, seed=42)
        self.model = gbt.fit(df)
        return self

    def predict_stages(self, queries: DataFrame) -> tuple[np.ndarray, np.ndarray]:
        """(qids, nprobe): each query's predicted probe target."""
        qids, qmat = self.index._query_arrays(queries)
        # width from the index: zero rows decode to shape (0,)
        qmat = qmat.reshape(-1, self.index.d)
        _, cdist = self.index.coarse_rank(qids, qmat, self.index.nlist)
        return qids, self._predict(qmat, cdist)

    def _predict(self, qmat: np.ndarray, cdist: np.ndarray) -> np.ndarray:
        """Predicted probe target per query row, from its features."""
        from pyspark.ml.functions import array_to_vector

        feats = self._features(qmat, cdist)
        df = self.index.spark.createDataFrame(
            [(i, [float(v) for v in f]) for i, f in enumerate(feats)],
            "row int, raw array<double>",
        ).select("row", array_to_vector("raw").alias("features"))
        pred = self.model.transform(df).select("row", "prediction").toPandas()
        stage_idx = np.empty(len(feats))
        stage_idx[pred["row"].to_numpy()] = pred["prediction"].to_numpy()
        return np.minimum(
            np.ceil((2.0 ** np.maximum(stage_idx, 0.0)) * self.multiplier), self.index.nlist
        ).astype(np.int64)

    def search(self, queries: DataFrame, topk: int, return_info: bool = False):
        """Probe each query to its predicted target via staged delta
        scans (shared machinery with the ELP loop). The queries are
        collected and coarse-ranked once, for the features and the
        scan."""
        ep = self._helper
        qids, qmat, ranked, cdist, _ = ep._coarse(queries)
        targets = self._predict(qmat, cdist)
        state_d = np.full((len(qids), ep.max_topk), np.inf)
        state_i = np.full((len(qids), ep.max_topk), -1, dtype=np.int64)
        # every per-query probe budget is known BEFORE any scan (the
        # learned predictor fixes it), so the staged ladder collapses
        # to ONE per-query-bounded scan job (scan_ranked hi_q) to the
        # ladder's depth for each target — identical scanned list sets,
        # log2(max nprobe) fewer Spark jobs per search.
        depth = ep._stage_depth(targets)
        active = np.ones(len(qids), dtype=bool)
        ep._scan_delta(
            qids, qmat, ranked, active, 0, int(depth.max(initial=0)),
            state_d, state_i, hi_q=depth,
        )
        res = ep._state_to_df(qids, state_d, state_i, topk)
        if return_info:
            return res, {"qid": qids, "nprobe": targets}
        return res
