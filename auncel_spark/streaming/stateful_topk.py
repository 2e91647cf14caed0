"""Continuous kNN maintenance: a custom stateful streaming operator.

North-star extension (the reference is batch-only; SURVEY §7.1 M7
"optional Structured Streaming"): standing queries whose top-k result
sets update as new base vectors stream in — the streaming analogue of
``add_with_ids`` + re-search, expressed with
``applyInPandasWithState`` (GroupState, one state row per query).

Dataflow per micro-batch:
1. score the incoming vector batch against the broadcast standing
   query set (the batch ``knn_exact`` scan, ``_flat_partials``) →
   (qid, id, dist) candidates, k per query per task;
2. group by qid → ``applyInPandasWithState`` merges candidates into
   the persisted per-query top-k (ids+dists arrays in state, ≤ k each)
   and emits the refreshed result rows.

State size: n_queries × k × 16 bytes — independent of stream volume.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from auncel_spark.config import Metric
from auncel_spark.operators.knn import _flat_partials, _metric_kernel

RESULT_SCHEMA = "qid bigint, pos int, id bigint, dist double"
STATE_SCHEMA = "ids array<long>, dists array<double>"


def _merge_fn(k: int):
    def merge(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        qid = key[0]
        if state.exists:
            (ids, dists) = state.get
            ids = np.array(ids, dtype=np.int64)
            dists = np.array(dists, dtype=np.float64)
        else:
            ids = np.empty(0, dtype=np.int64)
            dists = np.empty(0, dtype=np.float64)
        for pdf in pdfs:
            if pdf.empty:
                continue
            ids = np.concatenate([ids, pdf["id"].to_numpy(dtype=np.int64)])
            dists = np.concatenate([dists, pdf["dist"].to_numpy(dtype=np.float64)])
        order = np.lexsort((ids, dists))[:k]
        ids, dists = ids[order], dists[order]
        state.update((ids.tolist(), dists.tolist()))
        yield pd.DataFrame(
            {
                "qid": np.full(len(ids), qid, dtype=np.int64),
                "pos": np.arange(len(ids), dtype=np.int32),
                "id": ids,
                "dist": dists,
            }
        )

    return merge


def continuous_topk(
    spark: SparkSession,
    source_dir: str,
    schema,
    queries: DataFrame,
    k: int,
    out_dir: str,
    checkpoint_dir: str,
):
    """Start the standing-query stream. Each micro-batch appends the
    refreshed per-query top-k rows to ``out_dir`` (the latest batch per
    qid is the current answer). Returns the StreamingQuery."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    # per-task L2 top-k partials of each micro-batch: the batch
    # knn_exact scan over the stream
    scored = _flat_partials(
        queries.select("qid", "vec"),
        stream.select("id", "vec"),
        k,
        _metric_kernel(Metric.L2),
    )
    merged = scored.groupBy("qid").applyInPandasWithState(
        _merge_fn(k),
        outputStructType=RESULT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        merged.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
