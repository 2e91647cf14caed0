from __future__ import annotations

import numpy as np
import pytest

from auncel_spark.config import Metric
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.index.kmeans import assign_lists, inter_centroid_matrix, train_kmeans
from auncel_spark.operators.knn import knn_exact
from auncel_spark.operators.recall import intersection_recall
from tests.conftest import np_knn

K = 10
NLIST = 16


def test_kmeans_objective_decreases(base_df):
    cents, hist = train_kmeans(base_df, NLIST, max_iter=8, seed=7)
    assert cents.shape == (NLIST, 16)
    # Lloyd's objective is monotone non-increasing (test_build_blocks.py:14 analogue)
    assert all(hist[i + 1] <= hist[i] + 1e-9 for i in range(len(hist) - 1))


def test_assign_matches_numpy(base_df, tiny_vectors):
    xb, _ = tiny_vectors
    cents = xb[:NLIST].astype(np.float64)
    out = assign_lists(base_df, cents).select("id", "list_no").collect()
    d = ((xb.astype(np.float64)[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    want = d.argmin(axis=1)
    got = {r["id"]: r["list_no"] for r in out}
    assert all(got[i] == want[i] for i in range(len(xb)))


def test_inter_centroid_matrix(tiny_vectors):
    xb, _ = tiny_vectors
    c = xb[:4].astype(np.float64)
    m = inter_centroid_matrix(c, Metric.L2)
    for i in range(4):
        for j in range(4):
            assert abs(m[i, j] - np.linalg.norm(c[i] - c[j])) < 1e-12


def test_ivf_full_probe_equals_exact(base_df, query_df, tiny_vectors):
    xb, xq = tiny_vectors
    idx = IVFIndex.build(base_df, nlist=NLIST, centroids=xb[:NLIST].astype(np.float64))
    res = idx.search(query_df, K, nprobe=NLIST)  # probe everything → exact
    ids, _ = np_knn(xq, xb, K, "l2")
    got = {(r["qid"], r["pos"]): r["id"] for r in res.collect()}
    for qi in range(xq.shape[0]):
        for p in range(K):
            assert got[(qi, p)] == ids[qi, p]


def test_ivf_partial_probe_recall_reasonable(base_df, query_df, tiny_vectors, spark):
    xb, xq = tiny_vectors
    idx = IVFIndex.build(base_df, nlist=NLIST, kmeans_iter=10, seed=3)
    res = idx.search(query_df, K, nprobe=4)
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
    mean_rec = rec.agg({"recall": "avg"}).collect()[0][0]
    assert mean_rec > 0.5  # 4/16 lists on clustered-ish data


def test_ivf_persist_roundtrip(base_df, query_df, tiny_vectors, tmp_path, spark):
    xb, xq = tiny_vectors
    path = str(tmp_path / "ivf")
    idx = IVFIndex.build(base_df, nlist=NLIST, centroids=xb[:NLIST].astype(np.float64), path=path)
    idx2 = IVFIndex.load(spark, path)
    assert idx2.nlist == NLIST and idx2.metric == Metric.L2
    r1 = idx.search(query_df, K, nprobe=NLIST).collect()
    r2 = idx2.search(query_df, K, nprobe=NLIST).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    st = idx2.stats()
    assert st["ntotal"] == xb.shape[0] and st["imbalance_factor"] >= 1.0


def test_remove_ids_anti_join(base_df, tiny_vectors):
    xb, _ = tiny_vectors
    idx = IVFIndex.build(base_df, nlist=NLIST, centroids=xb[:NLIST].astype(np.float64))
    spark = base_df.sparkSession
    drop = spark.createDataFrame([(i,) for i in range(50)], "id bigint")
    kept = idx.remove_ids(drop)
    assert kept.count() == xb.shape[0] - 50
    assert kept.filter("id < 50").count() == 0


def _jobs_of(sc, group: str, action) -> list[int]:
    """Ids of the Spark jobs ``action()`` launches from this thread."""
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_search_with_stats(base_df, query_df, tiny_vectors, tmp_path, spark):
    xb, xq = tiny_vectors
    # every scanned (query, row) pair computed one distance: ndis is
    # Σ over (query, probed list) of the list's size
    b, q = xb.astype(np.float64), xq.astype(np.float64)
    c = b[:NLIST]
    sizes = np.bincount(
        ((b[:, None, :] - c[None]) ** 2).sum(-1).argmin(axis=1), minlength=NLIST
    )
    probed = np.argsort(((q[:, None, :] - c[None]) ** 2).sum(-1), axis=1)[:, :4]
    idx = IVFIndex.build(base_df, nlist=NLIST, centroids=c)
    replica = IVFIndex.build(base_df, nlist=NLIST, centroids=c, path=str(tmp_path / "ivf"))
    replica.build_scan_replica()
    sc = spark.sparkContext
    for index in (idx, replica):
        got = []
        jobs = _jobs_of(
            sc, "with_stats", lambda: got.append(index.search_with_stats(query_df, K, nprobe=4))
        )
        res, st = got[0]
        assert res.count() > 0
        assert st["nq"] == 20 and st["nprobe"] == 4
        assert 0 < st["nlists_scanned"] <= NLIST
        assert st["ndis"] == int(sizes[probed].sum())
        assert st["search_time_s"] > 0
        res.unpersist()
        # ndis comes from the store's offsets: the call runs one search
        # (one query collect, its scan and its cached result) and
        # nothing else — no second collect of the queries
        again = []
        plain = _jobs_of(
            sc, "plain_search",
            lambda: (again.append(index.search(query_df, K, nprobe=4).cache()),
                     again[0].count()),
        )
        again[0].unpersist()
        assert len(jobs) == len(plain), (jobs, plain)


def test_list_stats_launch_no_job(base_df, tiny_vectors, spark):
    """list_sizes, stats and imbalance read the store's offsets: no
    Spark job, and the same numbers as numpy."""
    xb, _ = tiny_vectors
    b = xb.astype(np.float64)
    c = b[:NLIST]
    sizes = np.bincount(
        ((b[:, None, :] - c[None]) ** 2).sum(-1).argmin(axis=1), minlength=NLIST
    )
    idx = IVFIndex.build(base_df, nlist=NLIST, centroids=c)
    sc = spark.sparkContext
    out = {}
    assert _jobs_of(sc, "list_sizes", lambda: out.update(ls=idx.list_sizes())) == []
    assert _jobs_of(sc, "stats", lambda: out.update(st=idx.stats())) == []
    assert _jobs_of(sc, "imbalance", lambda: out.update(im=idx.imbalance())) == []
    got = out["ls"].toPandas().sort_values("list_no")
    nz = np.flatnonzero(sizes)
    np.testing.assert_array_equal(got["list_no"].to_numpy(), nz)
    np.testing.assert_array_equal(got["count"].to_numpy(), sizes[nz])
    assert out["st"]["ntotal"] == len(xb)
    assert out["st"]["nonempty_lists"] == len(nz)
    want = NLIST * (sizes.astype(np.float64) ** 2).sum() / float(len(xb)) ** 2
    assert out["im"] == pytest.approx(want) == out["st"]["imbalance_factor"]


def test_persisted_lists_opened_once(spark, tmp_path):
    """A loaded index reads its lists from the store by path: ``data``
    and ``_scanner()`` launch no job, a second search on a loaded index
    runs no file-listing job (the same jobs as the first), and a bounded
    search runs no nlist-task job."""
    from auncel_spark.profile.error_profile import ErrorProfile

    nlist, d = 64, 8
    rng = np.random.default_rng(11)
    xb = rng.standard_normal((3000, d)).astype(np.float32)
    base = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(xb)], "id bigint, vec array<float>"
    )
    # corpus rows as centroids: each list holds at least its own row
    path = str(tmp_path / "ivf")
    IVFIndex.build(base, nlist=nlist, centroids=xb[:nlist].astype(np.float64), path=path)
    idx = IVFIndex.load(spark, path)
    sc = spark.sparkContext
    assert _jobs_of(sc, "lists_scanner", lambda: idx._scanner()) == []
    assert _jobs_of(sc, "lists_data", lambda: idx.data) == []

    def q(n, seed):
        x = np.random.default_rng(seed).standard_normal((n, d))
        return spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(x)], "qid bigint, vec array<float>"
        )

    st = sc.statusTracker()

    def widest(jobs):
        # the status store may hold no info for a stage the job skipped
        return {
            j: max((i.numTasks for s in st.getJobInfo(j).stageIds if (i := st.getStageInfo(s))), default=0)
            for j in jobs
        }

    fixed = q(10, 3)
    first = _jobs_of(sc, "first_search", lambda: idx.search(fixed, K, 8).toPandas())
    again = _jobs_of(sc, "second_search", lambda: idx.search(fixed, K, 8).toPandas())
    assert len(again) == len(first) and max(widest(again).values()) < nlist

    ep = ErrorProfile(idx, max_topk=10)
    ep.fit(q(40, 1))
    queries = q(20, 2)
    res = []
    jobs = _jobs_of(sc, "bounded_search", lambda: res.append(ep.search(queries, K, 0.9).toPandas()))
    assert jobs and len(res[0]) == 20 * K
    tasks = widest(jobs)
    assert max(tasks.values()) < nlist, tasks
