from __future__ import annotations

import numpy as np
import pytest

from auncel_spark.config import Metric
from auncel_spark.operators.knn import knn_by_ids, knn_exact, range_search
from auncel_spark.operators.recall import intersection_recall, worst_case_bound_holds
from auncel_spark.operators.topk import merge_topk
from tests.conftest import np_knn

K = 10


@pytest.mark.parametrize("metric", [Metric.L2, Metric.IP, Metric.COSINE])
def test_knn_exact_matches_numpy_oracle(base_df, query_df, tiny_vectors, metric):
    xb, xq = tiny_vectors
    res = knn_exact(query_df, base_df, K, metric=metric)
    got = {
        (r["qid"], r["pos"]): (r["id"], r["dist"])
        for r in res.collect()
    }
    ids, dists = np_knn(xq, xb, K, metric.value)
    assert len(got) == xq.shape[0] * K
    for qi in range(xq.shape[0]):
        for pos in range(K):
            gid, gdist = got[(qi, pos)]
            assert gid == ids[qi, pos], (qi, pos)
            assert abs(gdist - dists[qi, pos]) < 1e-9


@pytest.mark.parametrize(
    "metric, radius", [(Metric.L2, 1.5), (Metric.IP, 0.5), (Metric.COSINE, 0.5)]
)
def test_range_search_matches_oracle(spark, query_df, tiny_vectors, metric, radius):
    """Base rows rescaled to norms 0.5–3, so a cosine filter and a raw
    dot-product filter keep different pairs. dist is in the metric's
    native sign: squared L2, dot, cosine similarity."""
    xb, xq = tiny_vectors
    scale = np.random.default_rng(7).uniform(0.5, 3.0, xb.shape[0])
    xs = (xb * scale[:, None]).astype(np.float32)
    base = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(xs)],
        "id bigint, vec array<float>",
    )
    res = range_search(query_df, base, radius, metric=metric)
    got = {(r["qid"], r["id"]): r["dist"] for r in res.collect()}
    q, b = xq.astype(np.float64), xs.astype(np.float64)
    if metric == Metric.L2:
        d = ((q[:, None, :] - b[None, :, :]) ** 2).sum(-1)
        hit = d < radius
    else:
        d = q @ b.T
        if metric == Metric.COSINE:
            d /= np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(b, axis=1)[None, :]
        hit = d > radius
    assert not np.isclose(d, radius, rtol=0, atol=1e-9).any()  # no boundary pair
    assert set(got) == {(qi, bi) for qi, bi in zip(*np.nonzero(hit))}
    assert 0 < len(got) < hit.size
    for (qi, bi), dist in got.items():
        assert abs(dist - d[qi, bi]) < 1e-9


def test_knn_exact_multi_equals_per_metric_calls(base_df, query_df):
    """Each metric's rows of the one-scan multi-metric kNN equal the
    single-metric ``knn_exact`` rows: identical ids and identical dists."""
    from auncel_spark.operators.knn import knn_exact_multi

    both = knn_exact_multi(query_df, base_df, K, [Metric.L2, Metric.IP]).toPandas()
    for m in (Metric.L2, Metric.IP):
        want = knn_exact(query_df, base_df, K, m).toPandas()
        got = both[both["metric"] == m.value].drop(columns="metric")
        key = ["qid", "pos"]
        want = want.sort_values(key).reset_index(drop=True)
        got = got.sort_values(key).reset_index(drop=True)
        assert len(got) == len(query_df.collect()) * K
        assert got.equals(want), m


def _empty_query_op(op, spark, base_df, query_df):
    from auncel_spark.index.binary import hamming_knn
    from auncel_spark.index.pq import ProductQuantizer, pq_knn
    from auncel_spark.operators.knn import knn_exact_multi

    none = query_df.limit(0)
    if op == "knn_exact":
        return knn_exact(none, base_df, K)
    if op == "knn_exact_multi":
        return knn_exact_multi(none, base_df, K, [Metric.L2, Metric.IP])
    if op == "range_search":
        return range_search(none, base_df, 1.5)
    if op == "hamming_knn":
        bits = spark.createDataFrame([(0, b"\x0f\x01")], "id bigint, bits binary")
        return hamming_knn(bits.withColumnRenamed("id", "qid").limit(0), bits, K)
    pq = ProductQuantizer(np.zeros((2, 4, 8)))
    coded = spark.createDataFrame([(0, b"\x00\x01")], "id bigint, code binary")
    return pq_knn(none, coded, pq, K)


@pytest.mark.parametrize(
    "op", ["knn_exact", "knn_exact_multi", "range_search", "hamming_knn", "pq_knn"]
)
def test_empty_query_frame_returns_no_rows(spark, base_df, query_df, op):
    assert _empty_query_op(op, spark, base_df, query_df).collect() == []


def test_knn_by_ids_reranks_candidates(base_df, query_df, tiny_vectors, spark):
    xb, xq = tiny_vectors
    # candidates: the true top-30 — re-rank must reproduce the true top-10
    ids30, _ = np_knn(xq, xb, 30, "l2")
    cand = spark.createDataFrame(
        [(int(qi), int(i)) for qi in range(xq.shape[0]) for i in ids30[qi]],
        "qid bigint, id bigint",
    )
    res = knn_by_ids(query_df, base_df, cand, K)
    ids10, _ = np_knn(xq, xb, K, "l2")
    got = {(r["qid"], r["pos"]): r["id"] for r in res.collect()}
    for qi in range(xq.shape[0]):
        for pos in range(K):
            assert got[(qi, pos)] == ids10[qi, pos]


def test_merge_topk_equals_global(base_df, query_df, tiny_vectors):
    xb, xq = tiny_vectors
    # shard the base by id parity, search each shard, merge
    shard0 = base_df.filter("id % 2 = 0")
    shard1 = base_df.filter("id % 2 = 1")
    r0 = knn_exact(query_df, shard0, K)
    r1 = knn_exact(query_df, shard1, K)
    merged = merge_topk(K, r0, r1)
    ids, _ = np_knn(xq, xb, K, "l2")
    got = {(r["qid"], r["pos"]): r["id"] for r in merged.collect()}
    for qi in range(xq.shape[0]):
        for pos in range(K):
            assert got[(qi, pos)] == ids[qi, pos]


def test_shard_partials_single_scan_matches_per_shard_scans(
    base_df, query_df, tiny_vectors
):
    """The one-scan per-shard kernel must reproduce, through merge_topk,
    exactly the rows of the two filtered-scan searches (r10 single-scan
    rewrite of q_shard_merge_topk)."""
    from auncel_spark.operators.knn import knn_exact_shard_partials

    xb, xq = tiny_vectors
    r0 = knn_exact(query_df, base_df.filter("id % 2 = 0"), K)
    r1 = knn_exact(query_df, base_df.filter("id % 2 = 1"), K)
    want = (
        merge_topk(K, r0, r1)
        .toPandas()
        .sort_values(["qid", "pos"])
        .reset_index(drop=True)
    )
    p = knn_exact_shard_partials(query_df, base_df, K, 2).localCheckpoint(
        eager=False
    )
    got = (
        merge_topk(
            K,
            p.filter("shard = 0").select("qid", "id", "dist"),
            p.filter("shard = 1").select("qid", "id", "dist"),
        )
        .toPandas()
        .sort_values(["qid", "pos"])
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # and the merged result is the global exact top-k
    ids, _ = np_knn(xq, xb, K, "l2")
    for row in got.itertuples(index=False):
        assert row.id == ids[row.qid, row.pos]


def test_recall_and_bound(base_df, query_df, tiny_vectors, spark):
    xb, xq = tiny_vectors
    res = knn_exact(query_df, base_df, K)
    ids, dists = np_knn(xq, xb, K, "l2")
    gt = spark.createDataFrame(
        [
            (int(qi), int(p), int(ids[qi, p]), float(dists[qi, p]))
            for qi in range(xq.shape[0])
            for p in range(K)
        ],
        "qid bigint, pos int, gt_id bigint, gt_dist double",
    )
    rec = intersection_recall(res, gt, K)
    rows = rec.collect()
    assert all(abs(r["recall"] - 1.0) < 1e-12 for r in rows)
    assert worst_case_bound_holds(rec, bound=0.0)


def test_arrow_decode_matches_pandas_decode():
    """ids_mat_from_arrow (the mapInArrow kernels' decoder) must produce
    exactly the matrices as_matrix produced from the pandas route —
    float32→float64 widening is exact under both."""
    import pyarrow as pa

    from auncel_spark.functions.vector import as_matrix, ids_mat_from_arrow

    rng = np.random.default_rng(5)
    n, d = 257, 17
    mat32 = rng.standard_normal((n, d)).astype(np.float32)
    ids = rng.integers(0, 1 << 40, n)
    batch = pa.RecordBatch.from_pydict(
        {
            "id": pa.array(ids, type=pa.int64()),
            "_bvec": pa.array(list(mat32), type=pa.list_(pa.float32())),
        }
    )
    got_ids, got = ids_mat_from_arrow(batch)
    ref = as_matrix(pa.Array.to_pandas(batch.column(1)))
    assert (got_ids == ids).all()
    assert got.dtype == np.float64 and got.shape == (n, d)
    assert (got == ref).all()
    # sliced batches (offset-bearing list arrays) decode correctly too
    sl = batch.slice(3, 100)
    sids, smat = ids_mat_from_arrow(sl)
    assert (sids == ids[3:103]).all()
    assert (smat == ref[3:103]).all()
