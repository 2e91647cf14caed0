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
