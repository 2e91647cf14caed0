from __future__ import annotations

import numpy as np
import pytest

from auncel_spark.index.ivf import IVFIndex
from auncel_spark.profile.laet import LearnedTermination
from tests.conftest import assert_ranked_topk, np_knn

TOPK = 10


@pytest.fixture(scope="module")
def laet_setup(spark):
    rng = np.random.default_rng(21)
    k, per, d = 16, 100, 16
    centers = rng.standard_normal((k, d)) * 3.0
    xb = np.vstack([centers[i] + rng.standard_normal((per, d)) for i in range(k)]).astype(np.float32)
    xq = (centers[rng.integers(0, k, 40)] + rng.standard_normal((40, d))).astype(np.float32)
    base = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(xb)], "id bigint, vec array<float>"
    ).cache()
    queries = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(xq)], "qid bigint, vec array<float>"
    ).cache()
    idx = IVFIndex.build(base, nlist=32, kmeans_iter=8, seed=6)
    lt = LearnedTermination(idx, max_topk=40)
    lt.fit(queries, TOPK, target_recall=0.9)
    return xb, xq, lt, queries


def test_laet_fit_and_predict(laet_setup):
    xb, xq, lt, queries = laet_setup
    qids, nprobe = lt.predict_stages(queries)
    assert len(qids) == 40
    assert np.all(nprobe >= 1) and np.all(nprobe <= 32)


def test_laet_search_recall(laet_setup):
    xb, xq, lt, queries = laet_setup
    lt.multiplier = 2.0  # LAET's safety multiplier knob
    res, info = lt.search(queries, TOPK, return_info=True)
    ids_true, dists = np_knn(xq, xb, TOPK, "l2")
    gt_kth = dists[:, TOPK - 1]
    per_q = {}
    for r in res.collect():
        per_q.setdefault(r["qid"], []).append(r["dist"])
    recs = [
        (np.array(per_q[qi]) <= gt_kth[qi] + 1e-6).sum() / TOPK for qi in range(40)
    ]
    assert np.mean(recs) >= 0.8  # learned budgets hit the recall target on average
    assert info["nprobe"].mean() < 32  # and do so without exhaustive probing


def test_laet_search_scans_each_query_to_its_stage_depth(laet_setup):
    """Each query's top-k is the numpy top-k over exactly the lists it
    ranks below the stage boundary its predicted nprobe rounds up to."""
    xb, xq, lt, queries = laet_setup
    saved = lt.multiplier
    lt.multiplier = 1.5  # non-power-of-two targets: depth rounds up
    try:
        res, info = lt.search(queries, lt.max_topk, return_info=True)
    finally:
        lt.multiplier = saved
    depth = np.empty(len(xq), dtype=np.int64)
    depth[info["qid"]] = lt._helper._stage_depth(info["nprobe"])
    assert_ranked_topk(res, lt.index, xq, xb, depth, lt.max_topk)


def test_laet_empty_query_frame_returns_no_rows(laet_setup):
    _, _, lt, queries = laet_setup
    res, info = lt.search(queries.limit(0), TOPK, return_info=True)
    assert res.collect() == []
    assert len(info["qid"]) == len(info["nprobe"]) == 0


def test_laet_search_collects_queries_once(laet_setup, spark, monkeypatch):
    """A search reads its query frame once: the features and the scan
    share one collect and one coarse ranking. Outside its scan jobs it
    runs exactly the jobs ``predict_stages`` runs (the collect and the
    model's predictions)."""
    _, xq, lt, queries = laet_setup
    sc = spark.sparkContext
    read = sc.accumulator(0)

    def counted(batches):
        for b in batches:
            read.add(len(b))
            yield b

    q = queries.mapInPandas(counted, queries.schema)
    scan = lt._helper._scan_delta

    def scan_in_own_group(*a, **kw):
        sc.setJobGroup("laet_scan", "laet_scan")
        try:
            return scan(*a, **kw)
        finally:
            sc.setJobGroup("laet_search", "laet_search")

    monkeypatch.setattr(lt._helper, "_scan_delta", scan_in_own_group)

    def jobs_of(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setJobGroup(None, None)
        return sc.statusTracker().getJobIdsForGroup(group)

    searched = jobs_of("laet_search", lambda: lt.search(q, TOPK))
    assert read.value == len(xq)
    assert sc.statusTracker().getJobIdsForGroup("laet_scan")
    predicted = jobs_of("laet_predict", lambda: lt.predict_stages(q))
    assert len(searched) == len(predicted), (searched, predicted)


def test_laet_fit_collects_and_ranks_queries_once(laet_setup, monkeypatch):
    """``fit`` builds its features from the sweep's own collect and
    coarse ranking: one ``_query_arrays`` and one ``coarse_rank`` call."""
    _, _, lt, queries = laet_setup
    idx = lt.index
    calls = {"_query_arrays": 0, "coarse_rank": 0}

    def counting(name):
        inner = getattr(idx, name)

        def wrapped(*a, **kw):
            calls[name] += 1
            return inner(*a, **kw)

        return wrapped

    for name in calls:
        monkeypatch.setattr(idx, name, counting(name))
    LearnedTermination(idx, max_topk=40).fit(queries, TOPK, target_recall=0.9, gbt_iter=2)
    assert calls == {"_query_arrays": 1, "coarse_rank": 1}
