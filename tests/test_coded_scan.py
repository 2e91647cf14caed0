"""The ranked-list kernel (index/scan.py ``scan_ranked``) with the
coded scanners — ``SQScanner`` and ``PQScanner``, the search path of
IVF-SQ and IVF-PQ through ``IVFIndex.search`` — against a numpy
reference.

The reference scores every decoded code in each query's ``nprobe``
nearest lists directly (the InvertedListScanner semantics of
``Auncel/IndexIVF.cpp:439-475`` specialized by the IndexIVFPQ /
IndexScalarQuantizer scanners) with a (dist, id) tie-break; the scan
must return identical neighbor ids and matching distances for every
(metric, residual, codec) combination."""

from __future__ import annotations

import numpy as np
import pytest

from auncel_spark.config import Metric
from auncel_spark.index.ivfpq import IVFPQIndex, IVFPQRIndex
from auncel_spark.index.ivfsq import IVFSQIndex

K, NPROBE, NLIST = 5, 3, 8


def _rows(df):
    return [
        (r["qid"], r["pos"], r["id"], r["dist"])
        for r in df.orderBy("qid", "pos").collect()
    ]


def _assert_equiv(res_a, res_b, tol=1e-8):
    a, b = _rows(res_a), _rows(res_b)
    assert len(a) == len(b) > 0
    for (qa, pa, ia, da), (qb, pb, ib, db) in zip(a, b):
        assert (qa, pa, ia) == (qb, pb, ib)
        assert da == pytest.approx(db, abs=tol)


def _np_reference(spark, idx, xq, decode):
    """(qid, pos, id, dist) frame of the numpy top-K over each query's
    NPROBE coarse-ranked lists; ``decode(codes, list_nos)`` returns the
    float64 vectors the codes stand for."""
    lists = idx.data.select("id", "code", "list_no").toPandas()
    ids = lists["id"].to_numpy(dtype=np.int64)
    lns = lists["list_no"].to_numpy(dtype=np.int64)
    codes = np.stack([np.frombuffer(c, dtype=np.uint8) for c in lists["code"]])
    vecs = decode(codes, lns)
    q = xq.astype(np.float64)
    ranked, _ = idx.coarse_rank(np.arange(len(q)), q, NPROBE)
    rows = []
    for qi in range(len(q)):
        m = np.isin(lns, ranked[qi])
        x, xid = vecs[m], ids[m]
        if idx.metric == Metric.L2:
            dist = ((x - q[qi]) ** 2).sum(axis=1)
        else:
            dist = -(x @ q[qi])
        order = np.lexsort((xid, dist))[:K]
        rows += [
            (qi, p, int(xid[j]), float(dist[j])) for p, j in enumerate(order)
        ]
    return spark.createDataFrame(rows, "qid bigint, pos int, id bigint, dist double")


@pytest.mark.parametrize("qtype", ["8bit", "4bit", "fp16"])
def test_ivfsq_bcast_matches_join(base_df, query_df, tiny_vectors, qtype):
    """SQ scan == numpy over the decoded codes (the probes-join path
    this test is named for is gone; numpy is the reference now)."""
    _, xq = tiny_vectors
    idx = IVFSQIndex.build(base_df, nlist=NLIST, kmeans_iter=5, qtype=qtype)
    _assert_equiv(
        _np_reference(
            base_df.sparkSession, idx, xq, lambda codes, _: idx.sq.decode_np(codes)
        ),
        idx.search(query_df, K, NPROBE),
    )


@pytest.mark.parametrize(
    "metric,by_residual",
    [(Metric.L2, True), (Metric.L2, False), (Metric.IP, True), (Metric.IP, False)],
)
def test_ivfpq_bcast_matches_join(base_df, query_df, tiny_vectors, metric, by_residual):
    """ADC scan == numpy over the decoded codes (plus the list centroid
    when residual-encoded)."""
    _, xq = tiny_vectors
    idx = IVFPQIndex.build(
        base_df, nlist=NLIST, M=4, metric=metric, by_residual=by_residual,
        kmeans_iter=5,
    )

    def decode(codes, lns):
        x = idx.pq.decode_np(codes)
        return x + idx.centroids[lns] if by_residual else x

    _assert_equiv(
        _np_reference(base_df.sparkSession, idx, xq, decode),
        idx.search(query_df, K, NPROBE),
    )


def test_ivfpq_bcast_without_precomputed_table(base_df, query_df):
    """term2 fallback: the in-task per-list table must equal the
    broadcast precomputed one."""
    idx = IVFPQIndex.build(base_df, nlist=NLIST, M=4, kmeans_iter=5)
    with_t2 = idx.search(query_df, K, NPROBE)
    idx.use_precomputed_table = False
    idx._term2 = None
    without = idx.search(query_df, K, NPROBE)
    _assert_equiv(with_t2, without)


def test_ivfpqr_search_uses_bcast_candidates(base_df, query_df, tiny_vectors):
    """IVFPQR two-pass search still refines correctly on top of the
    broadcast ADC candidate pass (recall sanity vs exact)."""
    from tests.conftest import np_knn

    xb, xq = tiny_vectors
    idx = IVFPQRIndex.build(base_df, nlist=NLIST, M=4, kmeans_iter=5)
    res = idx.search(query_df, K, NLIST)  # probe everything: recall is PQ-limited only
    gt, _ = np_knn(xq, xb, K)
    got = {}
    for r in res.collect():
        got.setdefault(int(r["qid"]), set()).add(int(r["id"]))
    hits = sum(len(got.get(q, set()) & set(gt[q])) for q in range(len(xq)))
    assert hits / (len(xq) * K) > 0.5


@pytest.mark.parametrize("metric", [Metric.L2, Metric.IP])
def test_search_refine_dataframe_base(spark, base_df, query_df, tiny_vectors, metric):
    """``search_refine`` against an (id, vec) DataFrame base == a numpy
    re-rank of the ``search(k·k_factor)`` candidates in (dist, id)
    order. The base is read once: a second call with the same base
    DataFrame runs no task over it, and so fewer jobs than the first."""
    xb, xq = tiny_vectors
    kf = 4
    idx = IVFPQIndex.build(base_df, nlist=NLIST, M=4, metric=metric, kmeans_iter=5)
    cand = idx.search(query_df, K * kf, NPROBE).toPandas()
    sc = spark.sparkContext
    read = sc.accumulator(0)

    def counted(batches):
        for b in batches:
            read.add(len(b))
            yield b

    base = base_df.mapInPandas(counted, base_df.schema)
    q, b = xq.astype(np.float64), xb.astype(np.float64)
    jobs = []
    for call in ("first", "second"):
        group = f"search_refine_{metric.value}_{call}"
        sc.setJobGroup(group, group)
        try:
            res = idx.search_refine(query_df, base, K, NPROBE, k_factor=kf).toPandas()
        finally:
            sc.setJobGroup(None, None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        if call == "first":
            assert read.value == len(xb)
        for qi in range(len(xq)):
            c = cand[cand.qid == qi]["id"].to_numpy(dtype=np.int64)
            if metric == Metric.L2:
                d = ((b[c] - q[qi]) ** 2).sum(1)
            else:
                d = -(b[c] * q[qi]).sum(1)
            order = np.lexsort((c, d))[:K]
            sub = res[res.qid == qi].sort_values("pos")
            np.testing.assert_array_equal(sub["pos"].to_numpy(), np.arange(len(order)))
            np.testing.assert_array_equal(sub["id"].to_numpy(), c[order])
            np.testing.assert_allclose(sub["dist"].to_numpy(), d[order], rtol=0, atol=1e-12)
    assert read.value == len(xb), "the second call scanned the base again"
    assert jobs[1] < jobs[0], jobs


def test_search_refine_rejects_double_base(base_df, query_df):
    """The refine store holds float32 vectors, so an ``array<double>``
    base raises instead of re-ranking silently rounded vectors; the
    same base cast to ``array<float>`` states the rounding and is
    served like the float base."""
    from pyspark.sql import functions as F

    idx = IVFPQIndex.build(base_df, nlist=NLIST, M=4, kmeans_iter=5)
    dbl = base_df.select("id", F.col("vec").cast("array<double>").alias("vec"))
    with pytest.raises(ValueError, match="array<float>"):
        idx.search_refine(query_df, dbl, K, NPROBE)
    flt = dbl.select("id", F.col("vec").cast("array<float>").alias("vec"))
    assert _rows(idx.search_refine(query_df, flt, K, NPROBE)) == _rows(
        idx.search_refine(query_df, base_df, K, NPROBE)
    )


def test_group_topk_exact_under_massive_ties():
    """ADVICE r04: the argpartition fast path keeps k+16 rows before
    the exact lexsort — when >16 elements tie exactly at the k-th
    distance (routine for integral Hamming / duplicate-PQ-code
    distances) the result must STILL be the deterministic (dist, id)
    order. The guard detects tie spill past the margin and redoes
    those rows with the full lexsort."""
    import numpy as np

    from auncel_spark.index.scan import _group_topk

    rng = np.random.default_rng(7)
    nL, k = 500, 10
    ids = rng.permutation(nL).astype(np.int64)

    # worst case: ALL distances identical -> top-k must be the k
    # smallest ids at that distance
    dist = np.full((3, nL), 5.0)
    d, i = _group_topk(dist, ids, k)
    assert (i == np.sort(ids)[:k]).all() and (d == 5.0).all()

    # Hamming-like integral distances with ~60-way ties at the k-th
    dist = rng.integers(0, 8, (16, nL)).astype(np.float64)
    d, i = _group_topk(dist, ids, k)
    ref_sel = np.lexsort((np.broadcast_to(ids, dist.shape), dist), axis=1)[:, :k]
    ref_d = np.take_along_axis(dist, ref_sel, axis=1)
    ref_i = ids[ref_sel]
    assert (d == ref_d).all() and (i == ref_i).all()

    # no-tie case still exact
    dist = rng.standard_normal((8, nL))
    d, i = _group_topk(dist, ids, k)
    ref_sel = np.lexsort((np.broadcast_to(ids, dist.shape), dist), axis=1)[:, :k]
    assert (i == ids[ref_sel]).all()


def test_tiled_topk_list_dimension_chunking():
    """ADVICE r04: a single huge list must be chunked along the list
    dimension too (the 64-query floor alone would allow a multi-GB
    distance block); chunked partial top-k merged via _merge_rows must
    equal the unchunked exact answer."""
    import numpy as np

    import auncel_spark.index.scan as scan_mod
    from auncel_spark.index.scan import FlatScanner, _merge_rows, _tiled_topk
    from auncel_spark.operators.knn import Metric

    rng = np.random.default_rng(11)
    nq, nL, d, k = 7, 10000, 8, 5  # nL > the 4096 chunk floor -> 3 list chunks
    bq = rng.standard_normal((nq, d))
    mat = rng.standard_normal((nL, d))
    ids = rng.permutation(nL).astype(np.int64)
    sel = np.arange(nq)

    old = scan_mod._TILE_ELEMS
    scan_mod._TILE_ELEMS = 4096  # force both query AND list chunking
    try:
        state_d = np.full((nq, k), np.inf)
        state_i = np.full((nq, k), -1, dtype=np.int64)
        score = FlatScanner().kernel(bq, Metric.L2)
        for _, ss, nd, ni in _tiled_topk(score, sel, mat, ids, 0, k):
            _merge_rows(state_d, state_i, ss, nd, ni)
    finally:
        scan_mod._TILE_ELEMS = old

    dist = ((bq[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)
    ref_sel = np.lexsort((np.broadcast_to(ids, dist.shape), dist), axis=1)[:, :k]
    assert (state_i == ids[ref_sel]).all()
    assert np.allclose(state_d, np.take_along_axis(dist, ref_sel, axis=1))


def test_group_topk_inf_padding_contract():
    """ADVICE r08 #3: pins the +inf contract of the fast-path guard —
    inf entries are PADDING whose ids carry no meaning (callers mask
    them out; every real scan emits finite distances). A row whose
    kept k-th is +inf is exempt from the exact-tie redo, so the only
    guarantee among inf-tied entries is that every FINITE (dist, id)
    pair ranks correctly ahead of them."""
    import numpy as np

    from auncel_spark.index.scan import _group_topk

    rng = np.random.default_rng(11)
    nL, k = 200, 10
    ids = rng.permutation(nL).astype(np.int64)
    dist = np.full((4, nL), np.inf)
    # give each row fewer-than-k finite entries
    for r in range(4):
        pick = rng.choice(nL, size=3 + r, replace=False)
        dist[r, pick] = rng.standard_normal(len(pick)) ** 2
    d, i = _group_topk(dist, ids, k)
    for r in range(4):
        finite = np.isfinite(dist[r])
        ref = np.lexsort((ids[finite], dist[r][finite]))
        nf = finite.sum()
        # finite prefix exact (dist, id) order; inf tail unordered
        assert (i[r, :nf] == ids[finite][ref]).all()
        assert (d[r, :nf] == dist[r][finite][ref]).all()
        assert np.isinf(d[r, nf:]).all()


def test_coded_search_no_queries(spark, base_df, query_df):
    """An empty query frame gives 0 rows from every coded search: IVF-PQ
    (plain and refined), IVF-SQ and binary IVF."""
    from auncel_spark.index.binary import BinaryIVFIndex, pack_bits_np

    none = query_df.limit(0)
    pq = IVFPQIndex.build(base_df, nlist=NLIST, M=4, kmeans_iter=5)
    sq = IVFSQIndex.build(base_df, nlist=NLIST, kmeans_iter=5)
    bits = pack_bits_np(np.random.default_rng(3).integers(0, 2, (40, 16)))
    bidx = BinaryIVFIndex.build(
        spark.createDataFrame(
            [(i, bytes(b)) for i, b in enumerate(bits)], "id bigint, bits binary"
        ),
        nlist=4,
    )
    assert pq.search(none, K, NPROBE).count() == 0
    assert pq.search_refine(none, base_df, K, NPROBE).count() == 0
    assert sq.search(none, K, NPROBE).count() == 0
    assert bidx.search(spark.createDataFrame([], "qid bigint, bits binary"), K, 2).count() == 0
