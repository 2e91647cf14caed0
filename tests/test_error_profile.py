from __future__ import annotations

import numpy as np
import pytest

from auncel_spark.config import Metric
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.operators.recall import (
    intersection_recall,
    threshold_recall,
    worst_case_bound_holds,
)
from auncel_spark.profile.error_profile import ErrorProfile
from auncel_spark.profile.geometry import boundary_distances, sum_angle
from auncel_spark.profile.traces import Trace, kscaling
from tests.conftest import assert_ranked_topk, np_knn

NLIST = 64
TOPK = 10
MAXK = 40


@pytest.fixture(scope="module")
def clustered(spark):
    """Blobby corpus so IVF stages matter (FIXTURES.md distribution b)."""
    rng = np.random.default_rng(11)
    k, per, d = 24, 120, 16
    centers = rng.standard_normal((k, d)) * 3.0
    xb = np.vstack([centers[i] + rng.standard_normal((per, d)) for i in range(k)]).astype(np.float32)
    xq = (centers[rng.integers(0, k, 60)] + rng.standard_normal((60, d))).astype(np.float32)
    base = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(xb)], "id bigint, vec array<float>"
    ).cache()
    queries = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(xq)], "qid bigint, vec array<float>"
    ).cache()
    return xb, xq, base, queries


def test_trace_sb_monotone_and_lookup():
    rng = np.random.default_rng(0)
    phi = rng.uniform(0, 10, 2000)
    u = 1.0 + phi * 0.3 + rng.normal(0, 0.05, 2000)  # U grows with phi
    t = Trace.from_pairs(4, phi, u, bs=250)
    assert np.all(np.diff(t.phi) > 0)  # ascending after SB
    assert np.all(np.diff(t.u) > -0.2)  # roughly monotone means
    # lookup: below-first, interior, above-last amplification
    lo = t.search(np.array([-1.0]), 0.0)[0]
    assert abs(lo - t.u[0]) < 1e-12
    hi = t.search(np.array([t.phi[-1] * 2]), 0.0)[0]
    assert abs(hi - t.u[-1] * 2) < 1e-9
    mid = t.search(np.array([t.phi[3] + 1e-9]), 0.0)[0]
    assert abs(mid - t.u[3]) < 1e-12
    # risk margin raises the prediction
    assert t.search(np.array([5.0]), 1.0)[0] >= t.search(np.array([5.0]), 0.0)[0]


def test_kscaling_basic():
    gt = np.array([1.0, 2.0, 3.0, 4.0, 5.0])
    cand = np.array([2.0, 4.0, 9.9])  # ranks 0,1 are true ranks 1,3
    pts = kscaling(cand, gt, 10)
    assert pts == [(0, 2.0), (1, 2.0)]  # (g+1)/(r+1): 2/1, 4/2


def test_cosine_theorem_geometry():
    # a=b ⇒ query equidistant ⇒ boundary distance = c/2 - c/2 + ... = c/2 - (c²)/(2c) = 0
    cd = np.array([[2.0, 2.0, 5.0]])
    ci = np.array([[0, 1, 2]])
    inter = np.zeros((3, 3))
    inter[0, 1] = inter[1, 0] = 3.0
    inter[0, 2] = inter[2, 0] = 4.0
    dtb = boundary_distances(cd, ci, inter, Metric.L2)
    # formula with squared units: c/2 − (a²+c²−b²)/(2c), c=3²=9, a=b=2
    assert abs(dtb[0, 0] - (9 / 2 - (4 + 81 - 4) / 18)) < 1e-9


def test_sum_angle_counts_only_below_kdis():
    dtb = np.array([[0.5, 2.0, 0.1] + [np.inf] * 12])
    phi = sum_angle(np.array([1.0]), dtb, 0)
    want = np.arccos(0.5) + np.arccos(0.1)
    assert abs(phi[0] - want) < 1e-9


@pytest.fixture(scope="module")
def fitted(clustered):
    xb, xq, base, queries = clustered
    idx = IVFIndex.build(base, nlist=NLIST, kmeans_iter=8, seed=5)
    ep = ErrorProfile(idx, max_topk=MAXK)
    ep.fit(queries)
    return xb, xq, idx, ep, queries


def test_fit_builds_traces(fitted):
    _, _, idx, ep, _ = fitted
    assert len(ep.traces) == len(ep._stages())
    for t in ep.traces:
        assert np.all(np.diff(t.phi) >= 0)


def test_bounded_search_meets_bound(fitted, spark):
    xb, xq, idx, ep, queries = fitted
    bound = 0.2
    cal = ep.calibrate(queries, TOPK, bound)
    assert cal["multipler"] >= 1.0
    res, info = ep.search(queries, TOPK, require_acc=1.0 - bound, return_info=True)
    ids, dists = np_knn(xq, xb, TOPK, "l2")
    gt = spark.createDataFrame(
        [
            (int(qi), int(p), int(ids[qi, p]), float(dists[qi, p]))
            for qi in range(xq.shape[0])
            for p in range(TOPK)
        ],
        "qid bigint, pos int, gt_id bigint, gt_dist double",
    )
    rec = threshold_recall(res, gt, TOPK)
    assert worst_case_bound_holds(rec, bound)
    # adaptivity: not every query should need the hard cap
    assert info["nprobe"].max() <= NLIST
    assert info["nprobe"].min() >= 1


def test_bounded_search_convergence_contract(fitted):
    """require_acc=1.0 under the maximally conservative calibration
    (multipler=nlist: the post-stop extension, IndexIVF.cpp:615-626,
    reaches a full exhaustive probe for every query) must return the
    EXACT top-k with the engine's (dist, id) tie order — the catalog's
    bounded_knn oracle contract (VERDICT r06 Next #4)."""
    xb, xq, idx, ep, queries = fitted
    saved = ep.multipler
    ep.multipler = float(idx.nlist)
    try:
        res, info = ep.search(queries, TOPK, require_acc=1.0, return_info=True)
    finally:
        ep.multipler = saved
    assert info["nprobe"].min() == idx.nlist  # every query probed all
    ids, dists = np_knn(xq, xb, TOPK, "l2")
    got = {(r["qid"], r["pos"]): r["id"] for r in res.collect()}
    for qi in range(xq.shape[0]):
        for p in range(TOPK):
            assert got[(qi, p)] == ids[qi, p]


def test_bounded_search_cheaper_than_exhaustive(fitted):
    _, _, idx, ep, queries = fitted
    _, lo = ep.search(queries, TOPK, require_acc=0.5, return_info=True)
    _, hi = ep.search(queries, TOPK, require_acc=0.95, return_info=True)
    assert lo["nprobe"].mean() <= hi["nprobe"].mean() + 1e-9


def test_time_search_runs(fitted):
    _, _, idx, ep, queries = fitted
    res, info = ep.time_search(queries, TOPK, budget_ms=1e6, return_info=True)
    assert res.count() > 0


def test_profile_save_load(fitted, tmp_path):
    _, _, idx, ep, queries = fitted
    p = str(tmp_path / "prof")
    ep.save(p)
    ep2 = ErrorProfile.load(idx, p)
    assert len(ep2.traces) == len(ep.traces)
    np.testing.assert_allclose(ep2.traces[0].phi, ep.traces[0].phi)


@pytest.fixture(scope="module")
def ip_fitted(spark):
    """Unit-normalized clustered corpus under inner-product metric —
    exercises the arccos geometry path (IVF_pro.cpp IP branches)."""
    rng = np.random.default_rng(31)
    k, per, d = 16, 100, 16
    centers = rng.standard_normal((k, d))
    xb = np.vstack([centers[i] + 0.3 * rng.standard_normal((per, d)) for i in range(k)])
    xb /= np.linalg.norm(xb, axis=1, keepdims=True)
    xq = centers[rng.integers(0, k, 40)] + 0.3 * rng.standard_normal((40, d))
    xq /= np.linalg.norm(xq, axis=1, keepdims=True)
    xb32, xq32 = xb.astype(np.float32), xq.astype(np.float32)
    base = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(xb32)], "id bigint, vec array<float>"
    ).cache()
    queries = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(xq32)], "qid bigint, vec array<float>"
    ).cache()
    idx = IVFIndex.build(base, nlist=32, metric=Metric.IP, kmeans_iter=8, seed=7)
    ep = ErrorProfile(idx, max_topk=30)
    return xb32, xq32, idx, ep, queries


def test_ip_bounded_search_meets_bound(ip_fitted, spark):
    xb, xq, idx, ep, queries = ip_fitted
    bound = 0.2
    cal = ep.fit_and_calibrate(queries, TOPK, bound)
    res, info = ep.search(queries, TOPK, require_acc=1.0 - bound, return_info=True)
    ids, dists = np_knn(xq, xb, TOPK, "ip")
    gt = spark.createDataFrame(
        [
            (int(qi), int(p), int(ids[qi, p]), float(dists[qi, p]))
            for qi in range(xq.shape[0])
            for p in range(TOPK)
        ],
        "qid bigint, pos int, gt_id bigint, gt_dist double",
    )
    rec = threshold_recall(res, gt, TOPK)
    assert worst_case_bound_holds(rec, bound)
    assert info["nprobe"].max() <= 32


def test_search_sharded_equals_unsharded(fitted):
    _, _, idx, ep, queries = fitted
    full = sorted(
        (r["qid"], r["pos"], r["id"]) for r in ep.search(queries, TOPK, 0.8).collect()
    )
    sharded = sorted(
        (r["qid"], r["pos"], r["id"])
        for r in ep.search_sharded(queries, TOPK, 0.8, shard_size=25).collect()
    )
    assert full == sharded


def test_kscaling_batch_equals_scalar():
    """Vectorized trace-point extraction (kscaling_batch) must produce
    the per-query loop's exact (rank, U) sequence, query-major."""
    from auncel_spark.profile.traces import kscaling_batch

    rng = np.random.default_rng(42)
    nq, K, maxc = 200, 40, 10
    gt = np.sort(rng.uniform(0, 100, (nq, K)), axis=1)
    # candidates: mix of true distances (hits), perturbed (misses), inf
    cand = gt.copy()
    miss = rng.random((nq, K)) < 0.25
    cand[miss] += 0.37  # break the 1e-5 closeness
    cand[rng.random((nq, K)) < 0.05] = np.inf
    cand = np.sort(cand, axis=1)
    rows, ranks, us = kscaling_batch(cand, gt, maxc)
    er, ek, eu = [], [], []
    for i in range(nq):
        for r, u in kscaling(cand[i], gt[i], maxc):
            er.append(i)
            ek.append(r)
            eu.append(u)
    np.testing.assert_array_equal(rows, er)
    np.testing.assert_array_equal(ranks, ek)
    np.testing.assert_allclose(us, eu)


def test_merge_state_equals_scalar():
    """Folding a scan's reduced frame into the running top-k — the
    ``_scan_delta`` merge: ``assemble_states`` then ``_merge_rows`` over
    the active rows — must keep the exact slots the per-qid (dist, id)
    lexsort merge kept."""
    import pandas as pd

    from auncel_spark.index.scan import _merge_rows, assemble_states

    rng = np.random.default_rng(7)
    nq, k, rows_n = 50, 8, 600
    qids = np.arange(100, 100 + nq, dtype=np.int64)
    qpos = {int(q): i for i, q in enumerate(qids)}
    state_d = np.sort(rng.uniform(0, 10, (nq, k)), axis=1)
    state_d[:, -2:] = np.inf  # some unfilled slots
    state_i = rng.integers(0, 10_000, (nq, k)).astype(np.int64)
    state_i[state_d == np.inf] = -1
    new = pd.DataFrame(
        {
            "qid": rng.choice(qids, rows_n),
            "id": rng.integers(10_000, 20_000, rows_n).astype(np.int64),
            "dist": rng.uniform(0, 12, rows_n),
        }
    )
    exp_d, exp_i = state_d.copy(), state_i.copy()
    for qid, grp in new.groupby("qid"):
        i = qpos[int(qid)]
        d = np.concatenate([exp_d[i], grp["dist"].to_numpy()])
        ids = np.concatenate([exp_i[i], grp["id"].to_numpy(dtype=np.int64)])
        order = np.lexsort((ids, d))[:k]
        exp_d[i] = d[order]
        exp_i[i] = ids[order]
    # the distributed reduce (reduce_bucketed): one bucket, top-k per
    # qid in (dist, id) order
    red = new.sort_values(["qid", "dist", "id"]).assign(si=0)
    red["pos"] = red.groupby("qid").cumcount()
    red = red[red["pos"] < k]
    new_d, new_i = assemble_states(red, qids, 1, k)
    active = np.ones(nq, dtype=bool)
    active[::7] = False  # inactive rows have no candidates and stay put
    exp_d[~active], exp_i[~active] = state_d[~active], state_i[~active]
    rows = np.where(active)[0]
    got_d, got_i = state_d.copy(), state_i.copy()
    _merge_rows(got_d, got_i, rows, new_d[rows, 0], new_i[rows, 0])
    np.testing.assert_allclose(got_d, exp_d)
    np.testing.assert_array_equal(got_i, exp_i)


def test_simulate_targets_pred_cache_identical(fitted):
    """Memoized grid simulation must equal the direct per-call path."""
    _, _, idx, ep, queries = fitted
    sweep = ep._sweep_states(queries, ep._all_stages())
    direct = ep._simulate_targets(sweep, TOPK, 0.8)
    cache: dict = {}
    memo = ep._simulate_targets(sweep, TOPK, 0.8, cache)
    np.testing.assert_array_equal(direct, memo)
    assert cache  # the memo was actually populated


def test_empty_query_frame_returns_no_rows(fitted):
    _, _, idx, ep, queries = fitted
    empty = queries.limit(0)
    assert idx.search(empty, TOPK, 4).collect() == []
    res, info = ep.search(empty, TOPK, 0.9, return_info=True)
    assert res.collect() == []
    assert len(info["qid"]) == 0 and len(info["nprobe"]) == 0
    res, info = ep.time_search(empty, TOPK, 1e6, return_info=True)
    assert res.collect() == []
    assert len(info["qid"]) == len(info["nprobe"]) == len(info["retired_ms"]) == 0


@pytest.mark.parametrize(
    "acc,multipler,fuse_prefix",
    [(0.5, 1.0, 2), (0.95, 1.0, 2), (0.9, 3.0, 2), (0.9, 3.0, 8)],
)
def test_search_scans_each_query_to_its_stop_stage(
    fitted, monkeypatch, acc, multipler, fuse_prefix
):
    """Each query's top-k is the numpy top-k over exactly the lists it
    ranks below the stage boundary where it retired. A fused prefix of
    2 leaves stages 4 and 8 to per-stage delta scans; multipler 3 sends
    queries past the cap through the per-query-bounded extension."""
    from auncel_spark import config

    xb, xq, idx, ep, queries = fitted
    monkeypatch.setattr(config, "ELP_FUSE_PREFIX", fuse_prefix)
    saved = ep.multipler
    ep.multipler = multipler
    try:
        # the widest k: a list past a query's depth rarely reaches a top 10
        res, info = ep.search(queries, MAXK, acc, return_info=True)
    finally:
        ep.multipler = saved
    depth = np.empty(len(xq), dtype=np.int64)
    depth[info["qid"]] = ep._stage_depth(info["nprobe"])
    if multipler > 1:
        assert depth.max() > ep._stages()[-1]  # the extension ran
    assert_ranked_topk(res, idx, xq, xb, depth, MAXK)


@pytest.mark.parametrize("acc,multipler", [(0.5, 1.0), (0.95, 1.0), (0.9, 3.0)])
def test_search_stops_where_the_replay_stops(fitted, acc, multipler):
    """Calibration replays the stop rule on a sweep and assumes the
    replay picks the nprobe ``search`` picks."""
    _, _, idx, ep, queries = fitted
    saved = ep.multipler
    ep.multipler = multipler
    try:
        _, info = ep.search(queries, TOPK, acc, return_info=True)
        sweep = ep._sweep_states(queries, ep._all_stages())
        replay = ep._simulate_targets(sweep, TOPK, acc)
    finally:
        ep.multipler = saved
    np.testing.assert_array_equal(info["qid"], sweep["qids"])
    np.testing.assert_array_equal(info["nprobe"], replay)


def test_scan_ranked_keeps_each_bucket_and_query_bound(fitted):
    """With k no smaller than the base, nothing is cut by top-k: the
    scan must emit exactly the rows of the lists each active query
    ranks in [edges[si], min(edges[si+1], hi_q[q])), under bucket si."""
    from auncel_spark.index.scan import scan_ranked

    xb, xq, idx, _, _ = fitted
    q = xq.astype(np.float64)
    qids = np.arange(len(q), dtype=np.int64)
    ranked, _ = idx.coarse_rank(qids, q, idx.nlist)
    edges = [2, 5, 9, 14]
    rng = np.random.default_rng(3)
    hi_q = rng.integers(0, 18, len(q))  # some below edges[0], some past edges[-1]
    active = np.ones(len(q), dtype=bool)
    active[::5] = False
    store, codec = idx._scanner()
    pdf = scan_ranked(
        store, qids, q, ranked, edges, len(xb), idx.metric, idx.nlist,
        active=active, codec=codec, hi_q=hi_q,
    ).toPandas()
    lists = idx.data.select("id", "list_no").toPandas()
    list_of = np.empty(len(xb), dtype=np.int64)
    list_of[lists["id"].to_numpy()] = lists["list_no"].to_numpy()
    want = set()
    for qi in np.where(active)[0]:
        for si in range(len(edges) - 1):
            top = min(edges[si + 1], hi_q[qi])
            for r in np.nonzero(np.isin(list_of, ranked[qi, edges[si] : top]))[0]:
                want.add((qi, si, int(r)))
    got = list(zip(pdf["qid"], pdf["si"], pdf["id"]))
    assert len(got) == len(set(got))
    assert set(got) == want
