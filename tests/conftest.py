from __future__ import annotations

import os

import numpy as np
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM small


@pytest.fixture(scope="session")
def spark():
    from auncel_spark.session import get_spark

    s = get_spark("auncel_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_vectors():
    """Seeded corpus mirroring the reference's Randu10k recipe
    (Auncel/tests/common.py:18-37) at smoke scale: unit-norm gaussians."""
    rng = np.random.default_rng(42)
    nb, nq, d = 400, 20, 16
    xb = rng.standard_normal((nb, d)).astype(np.float32)
    xb /= np.linalg.norm(xb, axis=1, keepdims=True)
    xq = rng.standard_normal((nq, d)).astype(np.float32)
    xq /= np.linalg.norm(xq, axis=1, keepdims=True)
    return xb, xq


@pytest.fixture(scope="session")
def base_df(spark, tiny_vectors):
    xb, _ = tiny_vectors
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(xb)], "id bigint, vec array<float>"
    ).cache()


@pytest.fixture(scope="session")
def query_df(spark, tiny_vectors):
    _, xq = tiny_vectors
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(xq)], "qid bigint, vec array<float>"
    ).cache()


def np_knn(xq: np.ndarray, xb: np.ndarray, k: int, metric: str = "l2"):
    """Brute-force float64 oracle with (dist, id) tie-break."""
    q = xq.astype(np.float64)
    b = xb.astype(np.float64)
    if metric == "l2":
        d = ((q[:, None, :] - b[None, :, :]) ** 2).sum(-1)
    elif metric == "cosine":
        denom = np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(b, axis=1)[None, :]
        d = -(q @ b.T) / np.where(denom == 0, 1.0, denom)
    else:
        d = -(q @ b.T)
    ids = np.arange(b.shape[0])
    order = np.lexsort((np.broadcast_to(ids, d.shape), d), axis=1)[:, :k]
    return order, np.take_along_axis(d, order, axis=1)


def assert_ranked_topk(res, idx, xq, xb, depth, k):
    """Each query's result rows (qid, pos, id, dist) must be the numpy
    (dist, id) top-k over the base rows of the lists it ranks
    [0, depth[qid]) — the exact rows a staged scan to that depth sees.
    Query ``qid`` is row ``qid`` of ``xq``; base id is row id of ``xb``."""
    lists = idx.data.select("id", "list_no").toPandas()
    list_of = np.empty(len(xb), dtype=np.int64)
    list_of[lists["id"].to_numpy()] = lists["list_no"].to_numpy()
    q = xq.astype(np.float64)
    ranked, _ = idx.coarse_rank(np.arange(len(q)), q, idx.nlist)
    pdf = res.toPandas().sort_values(["qid", "pos"])
    got = {qid: g for qid, g in pdf.groupby("qid")}
    for qi in range(len(q)):
        rows = np.nonzero(np.isin(list_of, ranked[qi, : depth[qi]]))[0]
        kk = min(k, len(rows))
        if kk == 0:
            assert qi not in got
            continue
        order, d = np_knn(q[qi : qi + 1], xb[rows], kk, "l2")
        g = got[qi]
        np.testing.assert_array_equal(g["pos"].to_numpy(), np.arange(kk))
        np.testing.assert_array_equal(g["id"].to_numpy(), rows[order[0]])
        np.testing.assert_allclose(g["dist"].to_numpy(), d[0], rtol=1e-9, atol=1e-9)
