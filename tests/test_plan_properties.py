"""Physical-plan regression guards: the scale behavior the engine is
built around must be visible in the executed plan, not assumed."""

from __future__ import annotations

import numpy as np
import pytest

from auncel_spark.index.ivf import IVFIndex


def _spy_runs(monkeypatch) -> list:
    """Record the per-task list runs each scan job broadcasts."""
    from auncel_spark.index import scan

    seen, real = [], scan._task_runs

    def spy(offsets, lists, ntasks):
        seen.append(real(offsets, lists, ntasks))
        return seen[-1]

    monkeypatch.setattr(scan, "_task_runs", spy)
    return seen


def _probed(idx, query_df, nprobe):
    pdf = query_df.select("qid", "vec").toPandas()
    q = np.array(list(pdf["vec"]), dtype=np.float64)
    ranked, _ = idx.coarse_rank(pdf["qid"].to_numpy(), q, nprobe)
    return np.unique(ranked)


def test_ivf_scan_prunes_partitions_and_broadcasts(base_df, query_df, tiny_vectors, tmp_path, monkeypatch):
    """A loaded index's search reads only the probed lists — the runs
    of lists its scan tasks get cover exactly the probed ones — and the
    queries ride in a task broadcast: no join against the lists."""
    xb, _ = tiny_vectors
    path = str(tmp_path / "ivf_plan")
    IVFIndex.build(base_df, nlist=16, centroids=xb[:16].astype(np.float64), path=path)
    idx2 = IVFIndex.load(base_df.sparkSession, path)
    seen = _spy_runs(monkeypatch)
    res = idx2.search(query_df, 10, 4)
    (runs,) = seen
    np.testing.assert_array_equal(np.concatenate(runs), _probed(idx2, query_df, 4))
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]
    # the scan reads the store, not a file scan, and nothing is
    # shuffled before the kernel: one exchange, the top-k window's
    assert "FileScan" not in plan and plan.count("MapInArrow") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_exact_knn_has_no_shuffle_before_kernel(base_df, query_df):
    from auncel_spark.config import Metric
    from auncel_spark.operators.knn import knn_exact

    res = knn_exact(query_df, base_df, 5, Metric.L2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange: the qid hash for the global top-k window —
    # the scan side must not shuffle vectors
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan[:2000]


def _flat_op(op, spark, base_df, query_df, tiny_vectors):
    from pyspark.sql import functions as F

    from auncel_spark.config import Metric
    from auncel_spark.index.binary import (
        generalized_hamming_knn,
        hamming_knn,
        pack_bits_np,
    )
    from auncel_spark.index.pq import ProductQuantizer, pq_knn
    from auncel_spark.operators.flat import knn_base_shift
    from auncel_spark.operators.knn import knn_exact, knn_exact_multi

    xb, xq = tiny_vectors
    if op == "knn_exact":
        return knn_exact(query_df, base_df, 5)
    if op == "knn_exact_multi":
        return knn_exact_multi(query_df, base_df, 5, [Metric.L2, Metric.IP])
    if op == "knn_base_shift":
        return knn_base_shift(query_df, base_df.withColumn("shift", F.col("id") / 100), 5)
    if op == "pq_knn":
        pq = ProductQuantizer(np.random.default_rng(3).standard_normal((4, 16, 4)))
        codes = pq.encode_np(xb.astype(np.float64))
        coded = spark.createDataFrame(
            [(i, bytes(c)) for i, c in enumerate(codes)], "id bigint, code binary"
        )
        return pq_knn(query_df, coded, pq, 5)
    bb, qb = pack_bits_np(xb > 0), pack_bits_np(xq > 0)
    base = spark.createDataFrame(
        [(i, bytes(c)) for i, c in enumerate(bb)], "id bigint, bits binary"
    )
    queries = spark.createDataFrame(
        [(i, bytes(c)) for i, c in enumerate(qb)], "qid bigint, bits binary"
    )
    fn = hamming_knn if op == "hamming_knn" else generalized_hamming_knn
    return fn(queries, base, 5)


@pytest.mark.parametrize(
    "op",
    [
        "knn_exact",
        "knn_exact_multi",
        "knn_base_shift",
        "hamming_knn",
        "generalized_hamming_knn",
        "pq_knn",
    ],
)
def test_flat_topk_is_one_arrow_scan(spark, base_df, query_df, tiny_vectors, op):
    """Every brute-force top-k is the one flat scan: a single Arrow
    kernel over the base, no pandas round trip, no join, and exactly
    one exchange (the qid hash of the window merge)."""
    res = _flat_op(op, spark, base_df, query_df, tiny_vectors)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan[:2000]
    assert "MapInPandas" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_coded_scan_prunes_partitions_no_join(base_df, query_df, tmp_path, monkeypatch):
    """The broadcast-queries coded scan reads only the probed lists'
    codes and contains NO join at all — queries ride in a task
    broadcast, each code is read once."""
    from auncel_spark.index.ivfsq import IVFSQIndex

    path = str(tmp_path / "ivfsq_plan")
    IVFSQIndex.build(base_df, nlist=16, kmeans_iter=3, qtype="4bit", path=path)
    idx2 = IVFSQIndex.load(base_df.sparkSession, path)
    seen = _spy_runs(monkeypatch)
    queries = query_df.limit(3)
    res = idx2.search(queries, 5, 2)
    (runs,) = seen
    np.testing.assert_array_equal(np.concatenate(runs), _probed(idx2, queries, 2))
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]
    # the scanner reads the store's code column, never a vec column
    store, scanner = idx2._scanner()
    assert scanner.col == "code" and "vec" not in store.columns


def test_word_chunks_shuffle_free(spark):
    from pyspark.sql import functions as F

    from auncel_spark.operators.repetition import word_chunks

    df = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(10)], "doc_id bigint, text string"
    )
    plan = (
        word_chunks(df, 4, 3)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:2000]


def test_bloom_probe_broadcasts_bitset(spark):
    from auncel_spark.operators.bloom import bloom_build, bloom_probe

    df = spark.createDataFrame(
        [(i, f"t {i}") for i in range(20)], "doc_id bigint, text string"
    )
    res = bloom_probe(df, bloom_build(df, m=1 << 12), m=1 << 12)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # bit-set joins broadcast-side; the corpus is never shuffled for the join
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_source_cap_single_exchange(spark):
    from auncel_spark.operators.sampling import source_cap

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)], "doc_id bigint, source string"
    )
    plan = source_cap(df, 5)._jdf.queryExecution().executedPlan().toString()
    # one hash exchange on source for the rank window; nothing global
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Exchange SinglePartition" not in plan
