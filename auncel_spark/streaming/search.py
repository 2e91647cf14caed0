"""Streaming query search: standing index, queries as a stream.

North-star extension (the reference is batch-only, SURVEY §2.5; its
online serving loop — queries arriving continuously against a fixed
index, ``Auncel/eval/bound.cpp:220-418`` — IS this dataflow, just
hand-rolled): a Structured Streaming source of query vectors is
searched per micro-batch against a persisted index and results are
appended to a sink, exactly-once via checkpointing.

``foreachBatch`` is the idiomatic shape here: each micro-batch is a
normal DataFrame, so the full batch search machinery (list-store IVF
scans, broadcast-queries kernels, even the ELP bounded search with
a trained profile) runs unchanged — no operator re-implementation, and
micro-batch size is the natural query-sharding unit the batch path
already assumes (the training sweep shards at
``error_profile._QSHARD`` queries to bound broadcast state).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_search(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    search_fn: Callable[[DataFrame], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
):
    """Run ``search_fn`` (any batch query→result plan, e.g.
    ``lambda q: index.search(q, k, nprobe)``) over each query
    micro-batch, appending (batch_id, qid, pos, id, dist) to
    ``out_dir``. Returns the StreamingQuery (availableNow trigger:
    drain-and-stop for tests/backfills; swap the trigger for 24/7
    serving)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = search_fn(batch_df)
        (
            res.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_ivf_search(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    index,
    k: int,
    nprobe: int,
    out_dir: str,
    checkpoint_dir: str,
):
    """Fixed-nprobe IVF serving loop as a stream (index may be any of
    IVFIndex/IVFPQIndex/IVFSQIndex — they share the search surface)."""
    return stream_search(
        spark,
        source_dir,
        schema,
        lambda q: index.search(q, k, nprobe),
        out_dir,
        checkpoint_dir,
    )
