"""The engine's one Lloyd kernel (index/kmeans.py::lloyd) and its
driver-side training: job count, parity with the per-iteration update it
replaced, blocked assignment, and empty-cluster splitting in PQ."""

from __future__ import annotations

import numpy as np
import pytest

from auncel_spark.config import Metric
from auncel_spark.index import kmeans
from auncel_spark.index.kmeans import lloyd, train_kmeans
from auncel_spark.index.pq import ProductQuantizer


def _corpus(n=600, d=8, blobs=10, seed=3):
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((blobs, d)) * 3.0
    return centres[rng.integers(0, blobs, n)] + rng.standard_normal((n, d))


def _reference_lloyd(x, cents, n_iter, metric, spherical, tol, rng):
    """The per-iteration update ``train_kmeans`` ran as one Spark job per
    iteration, on a single partition: unblocked GEMM argmin, ``np.add.at``
    sums, split-the-largest for empty clusters."""

    def renorm(c):
        n = np.linalg.norm(c, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return c / n

    history = []
    k, d = cents.shape
    for _ in range(n_iter):
        dots = x @ cents.T
        if metric == Metric.L2:
            x2, c2 = (x * x).sum(axis=1), (cents * cents).sum(axis=1)
            dist = x2[:, None] + c2[None, :] - 2.0 * dots
        else:
            dist = -dots
        lab = dist.argmin(axis=1)
        history.append(float(dist[np.arange(len(lab)), lab].sum()))
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, d))
        np.add.at(counts, lab, 1)
        np.add.at(sums, lab, x)
        nonzero = counts > 0
        new = cents.copy()
        new[nonzero] = sums[nonzero] / counts[nonzero, None]
        for ci in np.where(~nonzero)[0]:
            big = int(counts.argmax())
            eps = 1e-4 * (1.0 + np.abs(new[big]))
            sign = rng.choice([-1.0, 1.0], size=d)
            new[ci] = new[big] + eps * sign
            new[big] = new[big] - eps * sign
            counts[ci] = counts[big] // 2
            counts[big] -= counts[ci]
        if spherical:
            new = renorm(new)
        shift = float(((new - cents) ** 2).sum())
        cents = new
        if shift < tol:
            break
    return cents, history


def _labels(x, cents, metric):
    lab, _ = kmeans._assign(x, (x * x).sum(axis=1), cents, metric, len(x))
    return lab


@pytest.mark.parametrize("metric,spherical", [(Metric.L2, False), (Metric.IP, True)])
def test_lloyd_matches_reference_update(metric, spherical):
    x = _corpus()
    if spherical:
        x /= np.linalg.norm(x, axis=1, keepdims=True)
    init = x[np.random.default_rng(1).permutation(len(x))[:12]].copy()
    init[5] = init[4]  # a duplicate centroid: cluster 5 starts empty
    want, want_hist = _reference_lloyd(
        x, init.copy(), 10, metric, spherical, 1e-7, np.random.default_rng(9)
    )
    got, hist = lloyd(x, init.copy(), 10, np.random.default_rng(9), metric, spherical, 1e-7)
    assert hist == want_hist
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=0)
    assert np.array_equal(_labels(x, got, metric), _labels(x, want, metric))


@pytest.mark.parametrize("metric", [Metric.L2, Metric.IP])
def test_blocked_assignment_matches_unblocked(metric):
    x = _corpus(n=1000, d=16)
    cents = x[np.random.default_rng(2).permutation(len(x))[:20]]
    x2 = (x * x).sum(axis=1)
    lab_all, obj_all = kmeans._assign(x, x2, cents, metric, len(x))
    lab_blk, obj_blk = kmeans._assign(x, x2, cents, metric, 64)
    assert np.array_equal(lab_blk, lab_all)
    assert obj_blk == pytest.approx(obj_all, rel=1e-12)


def _jobs_of(sc, group, action):
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_train_kmeans_jobs_do_not_grow_with_iterations(spark, base_df):
    sc = spark.sparkContext
    base_df.count()  # materialize the cached frame outside the counts
    few, (_, h2) = _jobs_of(sc, "km2", lambda: train_kmeans(base_df, 16, max_iter=2, seed=7))
    many, (_, h8) = _jobs_of(sc, "km8", lambda: train_kmeans(base_df, 16, max_iter=8, seed=7))
    assert len(h8) > len(h2) == 2
    assert many == few


def test_pq_train_splits_empty_clusters(spark):
    # 300 rows of 12 distinct vectors: the 256-row permutation init
    # repeats codewords, so most clusters start empty
    rng = np.random.default_rng(4)
    distinct = rng.standard_normal((12, 16))
    x = distinct[rng.integers(0, 12, 300)]
    df = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)], "id bigint, vec array<double>"
    )
    pq = ProductQuantizer.train(df, M=4, nbits=8, n_iter=5, seed=3)
    assert pq.codebooks.shape == (4, 256, 4)
    assert np.isfinite(pq.codebooks).all()
    for book in pq.codebooks:
        assert len(np.unique(book, axis=0)) == len(book)


@pytest.mark.parametrize("ties", [False, True])
def test_exact_argmin_blocks_equal_unblocked(ties):
    """Row blocks of the exact |x − c|² argmin give the labels of the
    one-block expression, in both layouts the engine uses (PQ encode /
    IMI: (n, k, dsub) summed last; OPQ: (n, dsub, k) summed over dsub),
    also when many distances tie."""
    from auncel_spark.index.kmeans import exact_argmin

    rng = np.random.default_rng(3)
    n, k, dsub = 6000, 256, 4  # ~3 blocks of _TILE_ELEMS
    if ties:
        x = rng.integers(0, 3, (n, dsub)).astype(np.float64)
        c = rng.integers(0, 3, (k, dsub)).astype(np.float64)
    else:
        x = rng.standard_normal((n, dsub))
        c = rng.standard_normal((k, dsub))
    last = exact_argmin(n, k * dsub, lambda s: ((x[s, None, :] - c[None, :, :]) ** 2).sum(-1))
    np.testing.assert_array_equal(last, ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1).argmin(1))
    mid = exact_argmin(n, k * dsub, lambda s: ((x[s, :, None] - c.T[None, :, :]) ** 2).sum(1))
    np.testing.assert_array_equal(mid, ((x[:, :, None] - c.T[None, :, :]) ** 2).sum(1).argmin(1))
    none = exact_argmin(0, k * dsub, lambda s: ((x[:0][s, None, :] - c[None]) ** 2).sum(-1))
    assert len(none) == 0
