from __future__ import annotations

import numpy as np
import pytest

from auncel_spark.config import Metric
from auncel_spark.index.hnsw import HNSWIndex
from auncel_spark.index.imi import IMIIndex
from auncel_spark.index.polysemous import (
    polysemous_knn,
    polysemous_permutation,
    remap_codes,
    sdc_knn,
)
from auncel_spark.index.pq import ProductQuantizer
from auncel_spark.operators.flat import knn_1d, knn_base_shift, matrix_stats
from auncel_spark.sources.gt import generate_ground_truth, shard_by_id
from tests.conftest import np_knn

K = 10


@pytest.fixture(scope="module")
def pq4(base_df):
    return ProductQuantizer.train(base_df, M=4, n_iter=10, sample_size=400)


def _recalls(res, ids_true, nq):
    got = {}
    for r in res.collect():
        got.setdefault(r["qid"], set()).add(r["id"])
    return [len(got[q] & set(ids_true[q].tolist())) / K for q in range(nq)]


def test_polysemous_filter_recall(base_df, query_df, tiny_vectors, pq4):
    xb, xq = tiny_vectors
    coded = pq4.encode(base_df).select("id", "code")
    ids_true, _ = np_knn(xq, xb, K, "l2")
    # generous threshold: near-ADC quality
    res = polysemous_knn(query_df, coded, pq4, K, ht=28)
    assert np.mean(_recalls(res, ids_true, xq.shape[0])) > 0.45
    # tight threshold still returns k rows per query (fallback path)
    res2 = polysemous_knn(query_df, coded, pq4, K, ht=1)
    assert res2.count() == xq.shape[0] * K


def test_polysemous_permutation_roundtrip(base_df, pq4):
    perms = polysemous_permutation(pq4, n_iter=200, seed=1)
    assert perms.shape == (4, 256)
    for m in range(4):
        assert sorted(perms[m].tolist()) == list(range(256))
    coded = pq4.encode(base_df).select("id", "code")
    remapped = remap_codes(coded, perms)
    c0 = {r["id"]: r["code"] for r in coded.collect()}
    r0 = {r["id"]: r["code"] for r in remapped.collect()}
    for i in list(c0)[:20]:
        orig = np.frombuffer(c0[i], dtype=np.uint8)
        new = np.frombuffer(r0[i], dtype=np.uint8)
        assert all(new[m] == perms[m][orig[m]] for m in range(4))


def test_sdc_search_runs(base_df, query_df, tiny_vectors, pq4):
    xb, xq = tiny_vectors
    coded = pq4.encode(base_df).select("id", "code")
    ids_true, _ = np_knn(xq, xb, K, "l2")
    res = sdc_knn(query_df, coded, pq4, K)
    assert np.mean(_recalls(res, ids_true, xq.shape[0])) > 0.3  # coarser than ADC


def test_imi_full_probe_exact(base_df, query_df, tiny_vectors):
    xb, xq = tiny_vectors
    idx = IMIIndex.build(base_df, ksub=4, kmeans_iter=6, seed=3)
    assert idx.nlist == 16
    res = idx.search(query_df, K, nprobe=16)
    ids_true, _ = np_knn(xq, xb, K, "l2")
    got = {(r["qid"], r["pos"]): r["id"] for r in res.collect()}
    for qi in range(xq.shape[0]):
        for p in range(K):
            assert got[(qi, p)] == ids_true[qi, p]


def test_hnsw_small_recall(base_df, query_df, tiny_vectors):
    xb, xq = tiny_vectors
    h = HNSWIndex(M=8, ef_construction=40, seed=2).build(base_df)
    res = h.search(query_df, K, ef_search=60)
    ids_true, _ = np_knn(xq, xb, K, "l2")
    recs = _recalls(res, ids_true, xq.shape[0])
    assert np.mean(recs) > 0.8
    with pytest.raises(ValueError):
        HNSWIndex(max_rows=10).build(base_df)


def test_sharded_hnsw_recall_and_determinism(spark, base_df, query_df, tiny_vectors, tmp_path):
    from auncel_spark.index.hnsw import ShardedHNSWIndex

    xb, xq = tiny_vectors
    idx = ShardedHNSWIndex.build(
        base_df, str(tmp_path / "g1"), n_shards=3, M=8, ef_construction=40, seed=2
    )
    res = idx.search(query_df, K, ef_search=60)
    ids_true, _ = np_knn(xq, xb, K, "l2")
    recs = _recalls(res, ids_true, xq.shape[0])
    assert np.mean(recs) > 0.8
    # deterministic: rebuild at another path gives identical results
    idx2 = ShardedHNSWIndex.build(
        base_df, str(tmp_path / "g2"), n_shards=3, M=8, ef_construction=40, seed=2
    )
    a = sorted(map(tuple, res.collect()))
    b = sorted(map(tuple, idx2.search(query_df, K, ef_search=60).collect()))
    assert a == b


def _reference_hnsw_build(ids, x, M, efc, seed):
    """The pre-vectorization per-edge build (scalar ``_dist`` call per
    neighbor, ``list.sort`` shrink) — kept verbatim as the semantics
    oracle for the vectorized ``HNSWGraph``: the batched distance
    evaluation must reproduce the exact same graph."""
    import heapq

    from auncel_spark.index.hnsw import HNSWGraph

    g = HNSWGraph(M, efc, seed)
    order = np.argsort(ids, kind="stable")
    g.ids = np.asarray(ids, dtype=np.int64)[order]
    g.x = np.asarray(x, dtype=np.float64)[order]
    rng = np.random.default_rng(seed)
    ml = 1.0 / np.log(max(M, 2))
    g.node_level = np.floor(-np.log(rng.random(len(g.ids))) * ml).astype(int)
    max_level = int(g.node_level.max()) if len(g.ids) else 0
    g.levels = [dict() for _ in range(max_level + 1)]
    g.entry = -1

    def dist(i, v):
        d = g.x[i] - v
        return float(d @ d)

    def search_layer(v, entry, ef, level):
        visited = {entry}
        cand = [(dist(entry, v), entry)]
        best = list(cand)
        heapq.heapify(cand)
        while cand:
            dc, c = heapq.heappop(cand)
            worst = max(best)[0]
            if dc > worst and len(best) >= ef:
                break
            for nb in g.levels[level].get(c, []):
                if nb in visited:
                    continue
                visited.add(nb)
                dn = dist(nb, v)
                if len(best) < ef or dn < max(best)[0]:
                    heapq.heappush(cand, (dn, nb))
                    best.append((dn, nb))
                    best.sort()
                    if len(best) > ef:
                        best.pop()
        return best

    for i in range(len(g.ids)):
        lvl = int(g.node_level[i])
        if g.entry < 0:
            g.entry = i
            for l in range(lvl + 1):
                g.levels[l][i] = []
            continue
        v = g.x[i]
        cur = g.entry
        top = int(g.node_level[g.entry])
        for l in range(top, lvl, -1):
            improved = True
            while improved:
                improved = False
                for nb in g.levels[l].get(cur, []):
                    if dist(nb, v) < dist(cur, v):
                        cur = nb
                        improved = True
        for l in range(min(lvl, top), -1, -1):
            cands = search_layer(v, cur, efc, l)
            sel = [c for _, c in sorted(cands)[:M]]
            g.levels[l][i] = sel
            for s in sel:
                lst = g.levels[l].setdefault(s, [])
                lst.append(i)
                if len(lst) > M * 2:
                    lst.sort(key=lambda j: dist(j, g.x[s]))
                    del lst[M * 2 :]
            cur = sel[0] if sel else cur
        if lvl > top:
            g.entry = i
    return g


def test_hnsw_vectorized_graph_identical():
    from auncel_spark.index.hnsw import HNSWGraph

    rng = np.random.default_rng(7)
    n, d, M, efc = 1200, 24, 6, 30  # small M so the shrink path fires
    x = rng.standard_normal((n, d))
    ids = np.arange(n, dtype=np.int64)
    got = HNSWGraph(M, efc, seed=3).build_arrays(ids, x)
    ref = _reference_hnsw_build(ids, x, M, efc, seed=3)
    assert got.entry == ref.entry
    assert (got.node_level == ref.node_level).all()
    assert len(got.levels) == len(ref.levels)
    for l, (la, lb) in enumerate(zip(got.levels, ref.levels)):
        assert la == lb, f"level {l} neighbor lists differ"
    # and search_one replays the scalar reference traversal exactly
    import heapq

    def ref_search_one(g, v, k, ef):
        def dist(i):
            dd = g.x[i] - v
            return float(dd @ dd)

        cur = g.entry
        for l in range(int(g.node_level[g.entry]), 0, -1):
            improved = True
            while improved:
                improved = False
                for nb in g.levels[l].get(cur, []):
                    if dist(nb) < dist(cur):
                        cur = nb
                        improved = True
        visited = {cur}
        cand = [(dist(cur), cur)]
        best = list(cand)
        heapq.heapify(cand)
        ef = max(ef, k)
        while cand:
            dc, c = heapq.heappop(cand)
            if dc > max(best)[0] and len(best) >= ef:
                break
            for nb in g.levels[0].get(c, []):
                if nb in visited:
                    continue
                visited.add(nb)
                dn = dist(nb)
                if len(best) < ef or dn < max(best)[0]:
                    heapq.heappush(cand, (dn, nb))
                    best.append((dn, nb))
                    best.sort()
                    if len(best) > ef:
                        best.pop()
        out = [(dd, int(g.ids[i])) for dd, i in best]
        out.sort()
        return out[:k]

    for _ in range(20):
        q = rng.standard_normal(d)
        assert got.search_one(q, 10, 40) == ref_search_one(ref, q, 10, 40)


def test_sharded_hnsw_shard_cap(spark, base_df, tmp_path):
    from auncel_spark.index.hnsw import ShardedHNSWIndex

    with pytest.raises(Exception):
        ShardedHNSWIndex.build(
            base_df, str(tmp_path / "g3"), n_shards=1, max_rows_per_shard=10
        )


def test_knn_1d_and_base_shift(spark):
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id bigint, val double"
    )
    q = spark.createDataFrame([(0, 41.4), (1, 97.0)], "qid bigint, val double")
    res = {(r["qid"], r["pos"]): r["id"] for r in knn_1d(q, base, 3).collect()}
    assert res[(0, 0)] == 41 and res[(0, 1)] == 42 and res[(0, 2)] == 40
    assert res[(1, 0)] == 97
    vec_base = spark.createDataFrame(
        [(i, [float(i)], 0.0 if i != 5 else 1e6) for i in range(10)],
        "id bigint, vec array<float>, shift double",
    )
    vq = spark.createDataFrame([(0, [0.0])], "qid bigint, vec array<float>")
    shifted = knn_base_shift(vq, vec_base, 1)
    assert shifted.collect()[0]["id"] == 5  # huge shift wins despite distance


def test_knn_base_shift_matches_numpy(spark, base_df, query_df, tiny_vectors):
    """Top-5 by L2² − shift equals numpy's, with the (dist, id) tie-break."""
    from pyspark.sql import functions as F

    xb, xq = tiny_vectors
    shift = (np.arange(xb.shape[0]) % 7) / 4.0
    base = base_df.withColumn("shift", (F.col("id") % 7) / 4.0)
    res = knn_base_shift(query_df, base, 5)
    got = {(r["qid"], r["pos"]): (r["id"], r["dist"]) for r in res.collect()}
    q, b = xq.astype(np.float64), xb.astype(np.float64)
    d = ((q[:, None, :] - b[None, :, :]) ** 2).sum(-1) - shift[None, :]
    ids = np.arange(xb.shape[0])
    order = np.lexsort((np.broadcast_to(ids, d.shape), d), axis=1)[:, :5]
    assert len(got) == xq.shape[0] * 5
    for qi in range(xq.shape[0]):
        for p in range(5):
            gid, gdist = got[(qi, p)]
            assert gid == order[qi, p], (qi, p)
            assert abs(gdist - d[qi, order[qi, p]]) < 1e-9


def test_matrix_stats(base_df, tiny_vectors):
    xb, _ = tiny_vectors
    st = matrix_stats(base_df).collect()
    assert len(st) == 16
    r0 = st[0]
    assert r0["n"] == xb.shape[0]
    assert abs(r0["mean_v"] - float(xb[:, 0].mean())) < 1e-5
    assert r0["n_invalid"] == 0


def test_gt_generator_and_sharding(base_df, query_df, tiny_vectors, tmp_path):
    xb, xq = tiny_vectors
    shards = shard_by_id(base_df, 4)
    assert sum(s.count() for s in shards) == xb.shape[0]
    gt = generate_ground_truth(query_df, base_df, max_topk=20, path=str(tmp_path / "gt"))
    ids_true, dists_true = np_knn(xq, xb, 20, "l2")
    got = {(r["qid"], r["pos"]): r["gt_id"] for r in gt.collect()}
    for qi in range(xq.shape[0]):
        for p in range(20):
            assert got[(qi, p)] == ids_true[qi, p]


def test_ivfsq_code_storage_and_recall(base_df, query_df, tiny_vectors):
    from auncel_spark.index.ivfsq import IVFSQIndex

    xb, xq = tiny_vectors
    idx = IVFSQIndex.build(base_df, nlist=8, centroids=xb[:8].astype(np.float64))
    # lists hold codes, not vectors
    assert set(idx.data.columns) == {"id", "code", "list_no"}
    res = idx.search(query_df, K, nprobe=8)
    ids_true, _ = np_knn(xq, xb, K, "l2")
    recs = _recalls(res, ids_true, xq.shape[0])
    assert np.mean(recs) > 0.9  # 8-bit quantization barely hurts


def test_factory_ivfsq_spec(base_df, query_df, tiny_vectors):
    from auncel_spark.index.factory import build_index

    xb, xq = tiny_vectors
    si = build_index(base_df, "IVF8,SQ8", seed=4)
    res = si.search(query_df, K, nprobe=8)
    ids_true, _ = np_knn(xq, xb, K, "l2")
    recs = _recalls(res, ids_true, xq.shape[0])
    assert np.mean(recs) > 0.85


def test_ivfpq_precomputed_table_matches_direct_lut(spark, base_df, query_df, tiny_vectors):
    """use_precomputed_table (IndexIVFPQ.h:48-59) is a pure
    factorization: |q-c-z|^2 = term1 + term2[l] + term3[q] must return
    the same ids and distances as the per-(query,list) residual LUT."""
    import numpy as np

    from auncel_spark.index.ivfpq import IVFPQIndex

    xb, _ = tiny_vectors
    cents = xb[:8].astype(np.float64)
    idx = IVFPQIndex.build(base_df, nlist=8, M=4, centroids=cents)
    idx.use_precomputed_table = True
    r1 = idx.search(query_df, 5, nprobe=4).collect()
    idx.use_precomputed_table = False
    r2 = idx.search(query_df, 5, nprobe=4).collect()
    got1 = {(r["qid"], r["pos"]): (r["id"], r["dist"]) for r in r1}
    got2 = {(r["qid"], r["pos"]): (r["id"], r["dist"]) for r in r2}
    assert set(got1) == set(got2)
    for k in got1:
        assert got1[k][0] == got2[k][0]
        assert abs(got1[k][1] - got2[k][1]) < 1e-9


def test_ivfpqr_recall_between_adc_and_exact_refine(spark, base_df, query_df, tiny_vectors):
    """IVFPQR's codes-only refine must beat plain ADC and stay <= the
    exact IndexRefineFlat re-rank (IndexIVFPQ.h:155)."""
    import numpy as np

    from auncel_spark.config import Metric
    from auncel_spark.index.ivfpq import IVFPQIndex, IVFPQRIndex
    from auncel_spark.operators.knn import knn_exact

    xb, xq = tiny_vectors
    cents = xb[:4].astype(np.float64)
    K = 10
    gt = knn_exact(query_df, base_df, K, Metric.L2)
    gt_ids = {}
    for r in gt.collect():
        gt_ids.setdefault(r["qid"], set()).add(r["id"])

    def recall(res):
        got = {}
        for r in res.collect():
            got.setdefault(r["qid"], set()).add(r["id"])
        return np.mean([len(got.get(q, set()) & gt_ids[q]) / K for q in gt_ids])

    pq_idx = IVFPQIndex.build(base_df, nlist=4, M=4, centroids=cents)
    pqr_idx = IVFPQRIndex.build(base_df, nlist=4, M=4, refine_M=8, centroids=cents)
    r_adc = recall(pq_idx.search(query_df, K, nprobe=4))
    r_pqr = recall(pqr_idx.search(query_df, K, nprobe=4))
    r_exact = recall(pq_idx.search_refine(query_df, base_df, K, nprobe=4))
    assert r_pqr >= r_adc  # second-level codes add information
    assert r_exact >= r_pqr  # but can't beat exact re-rank
    assert r_pqr > 0.5


def test_factory_ivfpqr_spec(base_df, query_df):
    from auncel_spark.index.factory import build_index, parse_spec

    p = parse_spec("IVF8,PQ4+8")
    assert p.index_type == "ivfpqr" and p.pq_m == 4 and p.refine_m == 8
    si = build_index(base_df, "IVF8,PQ4+8")
    assert si.search(query_df, 5, nprobe=8).count() == query_df.count() * 5


def test_reproduce_objective_lowers_cost_and_beats_identity(pq4):
    """Exact ReproduceWithHammingObjective: the annealed permutation's
    weighted cost must be below the identity permutation's (the
    objective it directly minimizes), and it must remain a valid
    permutation. PolysemousTraining.cpp:180-290."""
    import numpy as np
    from auncel_spark.index.binary import _POP

    perms = polysemous_permutation(pq4, n_iter=5000, seed=3, objective="reproduce")
    nbits = int(np.log2(pq4.ksub))
    for m in range(pq4.M):
        p = perms[m]
        assert sorted(p.tolist()) == list(range(pq4.ksub))
        cb = pq4.codebooks[m]
        cdist = ((cb[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
        std = cdist.std() or 1.0
        td = (cdist - cdist.mean()) / std * np.sqrt(nbits / 4.0) + nbits / 2.0
        w = np.exp(-np.log(2.0) * td)

        def cost(q):
            ham = _POP[(q[:, None] ^ q[None, :]) & 0xFF]
            return float((w * (td - ham) ** 2).sum())

        assert cost(p) < cost(np.arange(pq4.ksub))


def test_reproduce_incremental_cost_matches_full():
    """The O(n) swap-delta bookkeeping must equal a full n² recompute:
    run the annealer, then verify its final cached cost structure by
    recomputing from scratch (catches sign/corner errors in the
    row/column delta)."""
    import numpy as np
    from auncel_spark.index.binary import _POP
    from auncel_spark.index.polysemous import _anneal_reproduce

    rng = np.random.default_rng(0)
    cb = rng.standard_normal((16, 4))
    cdist = ((cb[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
    perm = _anneal_reproduce(cdist, 4, 2000, np.random.default_rng(1))
    assert sorted(perm.tolist()) == list(range(16))
    # replay: the annealer accepted swaps based on deltas; a correct
    # delta implies the final permutation's true cost is <= identity's
    td = (cdist - cdist.mean()) / (cdist.std() or 1.0) * 1.0 + 2.0
    w = np.exp(-np.log(2.0) * td)

    def cost(q):
        ham = _POP[(q[:, None] ^ q[None, :]) & 0xFF]
        return float((w * (td - ham) ** 2).sum())

    assert cost(perm) <= cost(np.arange(16)) + 1e-9


def test_ivf_hnsw_coarse_quantizer(spark, base_df, query_df, tiny_vectors):
    from auncel_spark.index.factory import parse_spec
    from auncel_spark.index.ivf import IVFIndex

    ps = parse_spec("IVF16_HNSW8,Flat")
    assert ps.nlist == 16 and ps.coarse_hnsw_m == 8 and ps.index_type == "ivfflat"

    xb, xq = tiny_vectors
    idx = IVFIndex.build(base_df, nlist=8, seed=1)
    brute, _ = idx.coarse_rank(None, xq, 4)
    idx.use_hnsw_quantizer(M=8, ef_search=64)
    graph, _ = idx.coarse_rank(None, xq, 4)
    # generous ef on 8 centroids: graph ranking == exact ranking
    assert (brute == graph).all()
    res = idx.search(query_df, K, nprobe=4)
    assert res.count() > 0


def test_ivfpq_opq_build_search_saveload(spark, base_df, query_df, tiny_vectors, tmp_path):
    """OPQ-rotated IVFPQ: full-probe + exact refine must be exact
    (rotation is orthonormal, refine reads raw vectors); persisted
    rotation must round-trip; inverted lists must be IDENTICAL to the
    unrotated build (assignment is rotation-invariant)."""
    from auncel_spark.index.ivfpq import IVFPQIndex

    xb, xq = tiny_vectors
    path = str(tmp_path / "opq")
    idx = IVFPQIndex.build(
        base_df, nlist=8, M=4, path=path, kmeans_iter=5, seed=1, opq=True
    )
    assert idx.rotation is not None
    R = idx.rotation
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-8)  # orthonormal

    plain = IVFPQIndex.build(base_df, nlist=8, M=4, kmeans_iter=5, seed=1)
    lists_opq = {r["id"]: r["list_no"] for r in idx.data.select("id", "list_no").collect()}
    lists_pln = {r["id"]: r["list_no"] for r in plain.data.select("id", "list_no").collect()}
    assert lists_opq == lists_pln

    ids_true, _ = np_knn(xq, xb, K, "l2")
    idx2 = IVFPQIndex.load(spark, path)
    assert idx2.rotation is not None and np.allclose(idx2.rotation, R)
    res = idx2.search_refine(query_df, base_df, K, nprobe=8, k_factor=40)
    recs = _recalls(res, ids_true, xq.shape[0])
    assert np.mean(recs) == 1.0  # full probes + exhaustive refine = exact

    # ADC-only path returns k rows per query and is code-consistent
    adc = idx2.search(query_df, K, nprobe=8)
    assert adc.count() == xq.shape[0] * K


def test_polysemous_fallback_is_per_query_over_the_whole_base(base_df, query_df, tiny_vectors, pq4):
    """The "fewer than k survivors → full ADC" fallback is decided per
    query over the whole base, so the result does not depend on the
    partitioning and matches a numpy reference."""
    xb, xq = tiny_vectors
    coded = pq4.encode(base_df).select("id", "code").cache()
    codes = np.stack(
        [np.frombuffer(r["code"], dtype=np.uint8) for r in coded.orderBy("id").collect()]
    )
    qcodes = pq4.encode_np(xq.astype(np.float64))
    pop = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(1)
    ham = pop[qcodes[:, None, :] ^ codes[None, :, :]].sum(axis=2)
    # a threshold most queries pass with a few dozen survivors: far
    # fewer than k per partition at 7 partitions
    ht = int(np.median(np.sort(ham, axis=1)[:, 3 * K]))
    want_ids, want_d = [], []
    for qi in range(len(xq)):
        mask = ham[qi] < ht
        if mask.sum() < K:
            mask[:] = True
        lut = pq4.lut_np(xq[qi].astype(np.float64), Metric.L2)
        dist = np.where(mask, lut[np.arange(pq4.M)[None, :], codes].sum(axis=1), np.inf)
        order = np.lexsort((np.arange(len(codes)), dist))[:K]
        want_ids.append(order)
        want_d.append(dist[order])
    assert ((ham < ht).sum(axis=1) >= K).sum() > len(xq) // 2
    for parts in (1, 7):
        res = polysemous_knn(query_df, coded.repartition(parts), pq4, K, ht=ht)
        got = res.orderBy("qid", "pos").collect()
        ids = np.array([r["id"] for r in got]).reshape(len(xq), K)
        dist = np.array([r["dist"] for r in got]).reshape(len(xq), K)
        np.testing.assert_array_equal(ids, np.stack(want_ids), err_msg=f"{parts} partitions")
        np.testing.assert_allclose(dist, np.stack(want_d), rtol=1e-12)
