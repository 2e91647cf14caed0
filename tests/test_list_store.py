"""The list store (index/list_store.py): every IVF-family index keeps its
lists as one list-ordered file set, list l the contiguous row range
``[offsets[l], offsets[l+1])`` — the reference's ``OnDiskInvertedLists``
(``Auncel/OnDiskInvertedLists.h:51-110``).

Pinned here: a build at a path round-trips through a fresh handle for
every codec (offsets cover n rows, each list's rows are contiguous and
belong to it, search equals numpy), and a rebuild at a used path leaves
nothing of the previous index behind (replica codes, OPQ rotation)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from auncel_spark.index.ivf import IVFIndex
from auncel_spark.index.ivfpq import IVFPQIndex, IVFPQRIndex
from auncel_spark.index.ivfsq import IVFSQIndex
from auncel_spark.index.list_store import ListStore, qid_positions

K, NLIST = 5, 8


def _np_topk(xq, x, k, ids=None):
    """(dist, id) top-k ids and distances of float64 L2 over rows x."""
    ids = np.arange(len(x)) if ids is None else ids
    d = ((np.asarray(xq, np.float64)[:, None, :] - np.asarray(x, np.float64)[None]) ** 2).sum(-1)
    order = np.lexsort((np.broadcast_to(ids, d.shape), d), axis=1)[:, :k]
    return ids[order], np.take_along_axis(d, order, axis=1)


def _result(res, nq, k):
    pdf = res.toPandas().sort_values(["qid", "pos"])
    assert len(pdf) == nq * k
    return pdf["id"].to_numpy().reshape(nq, k), pdf["dist"].to_numpy().reshape(nq, k)


def _check_layout(store: ListStore, n: int, list_of_id: np.ndarray) -> None:
    """offsets cover all n rows, and each list's rows are one contiguous
    run of ids assigned to that list."""
    assert store.offsets[0] == 0 and store.offsets[-1] == n == store.n
    assert (np.diff(store.offsets) >= 0).all()
    ids = np.asarray(store.ids())
    assert sorted(ids.tolist()) == list(range(n))
    for ln in range(store.nlist):
        rows = ids[store.offsets[ln] : store.offsets[ln + 1]]
        assert (list_of_id[rows] == ln).all()
    assert store.list_of_rows(np.arange(n)).tolist() == list_of_id[ids].tolist()


def _assigned(xb, cents):
    d = ((xb.astype(np.float64)[:, None, :] - cents[None]) ** 2).sum(-1)
    return d.argmin(axis=1)


@pytest.mark.parametrize("kind", ["flat", "sq", "pq", "pqr"])
def test_store_round_trip(spark, base_df, query_df, tiny_vectors, tmp_path, kind):
    xb, xq = tiny_vectors
    cents = xb[:NLIST].astype(np.float64)
    path = str(tmp_path / kind)
    if kind == "flat":
        IVFIndex.build(base_df, nlist=NLIST, centroids=cents, path=path)
        idx = IVFIndex.load(spark, path)
    elif kind == "sq":
        IVFSQIndex.build(base_df, nlist=NLIST, centroids=cents, path=path)
        idx = IVFSQIndex.load(spark, path)
    elif kind == "pq":
        IVFPQIndex.build(base_df, nlist=NLIST, M=4, centroids=cents, path=path)
        idx = IVFPQIndex.load(spark, path)
    else:
        IVFPQRIndex.build(base_df, nlist=NLIST, M=4, centroids=cents, path=path)
        idx = IVFPQRIndex.load(spark, path)
    store = ListStore(path)
    _check_layout(store, len(xb), _assigned(xb, cents))
    assert set(store.columns) == set(idx.columns)
    # full probe: search equals numpy over what the store holds
    if kind == "flat":
        want_i, want_d = _np_topk(xq, xb, K)
        got_i, got_d = _result(idx.search(query_df, K, NLIST), len(xq), K)
    elif kind == "sq":
        dec = idx.sq.decode_np(store.column("code")[store.rows_of(np.arange(len(xb)))])
        want_i, want_d = _np_topk(xq, dec, K)
        got_i, got_d = _result(idx.search(query_df, K, NLIST), len(xq), K)
    elif kind == "pq":
        dec = idx.pq.decode_np(store.column("code")[store.rows_of(np.arange(len(xb)))])
        want_i, want_d = _np_topk(xq, dec + cents[_assigned(xb, cents)], K)
        got_i, got_d = _result(idx.search(query_df, K, NLIST), len(xq), K)
    else:
        rows = np.arange(len(xb))
        xhat = (
            cents[_assigned(xb, cents)]
            + idx.pq.decode_np(store.column("code")[store.rows_of(rows)])
            + idx.refine_pq.decode_np(store.column("rcode")[store.rows_of(rows)])
        )
        want_i, want_d = _np_topk(xq, xhat, K)
        # k·k_factor covers the base: the re-rank sees every row
        got_i, got_d = _result(
            idx.search(query_df, K, NLIST, k_factor=len(xb) // K), len(xq), K
        )
    np.testing.assert_array_equal(got_i, want_i)
    np.testing.assert_allclose(got_d, want_d, rtol=1e-9, atol=1e-12)


def test_binary_store_round_trip(spark):
    from auncel_spark.index.binary import BinaryIVFIndex

    rng = np.random.default_rng(5)
    xb = rng.integers(0, 256, (300, 8), dtype=np.uint8)
    xq = rng.integers(0, 256, (12, 8), dtype=np.uint8)
    base = spark.createDataFrame([(i, bytes(r)) for i, r in enumerate(xb)], "id bigint, bits binary")
    queries = spark.createDataFrame([(i, bytes(r)) for i, r in enumerate(xq)], "qid bigint, bits binary")
    idx = BinaryIVFIndex.build(base, nlist=NLIST)
    # a fresh handle over the same files
    store = ListStore(os.path.dirname(idx.store.dir))
    pop = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(1)
    ham = lambda a, b: pop[a[:, None, :] ^ b[None, :, :]].sum(-1)  # noqa: E731
    _check_layout(store, len(xb), ham(xb, xb[:NLIST]).argmin(axis=1))
    np.testing.assert_array_equal(store.column("bits")[store.rows_of(np.arange(len(xb)))], xb)
    res = idx.search(queries, K, nprobe=NLIST).toPandas().sort_values(["qid", "pos"])
    d = ham(xq, xb)
    want = np.lexsort((np.broadcast_to(np.arange(len(xb)), d.shape), d), axis=1)[:, :K]
    np.testing.assert_array_equal(res["id"].to_numpy().reshape(len(xq), K), want)


def test_rebuild_at_used_path_serves_new_index(spark, tmp_path):
    """A plain rebuild over a replica-built IVF and over an OPQ IVF-PQ
    at the same paths, on other data, then a load: nothing of the old
    index survives. Before the store replaced whole indexes, the IVF
    still scanned the old data's replica codes and the IVF-PQ loaded the
    old rotation."""
    rng = np.random.default_rng(8)
    d, n = 16, 600
    a = rng.standard_normal((n, d)).astype(np.float32)
    b = (rng.standard_normal((n, d)) * 3 + 5).astype(np.float32)
    xq = (rng.standard_normal((10, d)) * 3 + 5).astype(np.float32)

    def frame(x):
        return spark.createDataFrame(pd.DataFrame({"id": np.arange(n), "vec": list(x)}))

    qdf = spark.createDataFrame(pd.DataFrame({"qid": np.arange(10), "vec": list(xq)}))
    p_ivf, p_pq = str(tmp_path / "ivf"), str(tmp_path / "pq")
    old = IVFIndex.build(frame(a), nlist=NLIST, centroids=a[:NLIST].astype(np.float64), path=p_ivf)
    old.build_scan_replica()
    IVFPQIndex.build(frame(a), nlist=NLIST, M=4, path=p_pq, kmeans_iter=3, seed=1, opq=True)

    IVFIndex.build(frame(b), nlist=NLIST, centroids=b[:NLIST].astype(np.float64), path=p_ivf)
    new_pq = IVFPQIndex.build(frame(b), nlist=NLIST, M=4, path=p_pq, kmeans_iter=3, seed=1)

    ivf = IVFIndex.load(spark, p_ivf)
    assert not ivf.codec_active
    want_i, want_d = _np_topk(xq, b, K)
    got_i, got_d = _result(ivf.search(qdf, K, NLIST), 10, K)
    np.testing.assert_array_equal(got_i, want_i)
    np.testing.assert_allclose(got_d, want_d, rtol=1e-9)

    pq = IVFPQIndex.load(spark, p_pq)
    assert pq.rotation is None
    # ADC over the new codes: the loaded index scores as the build's
    # own handle does, and numpy over the decoded new codes agrees
    lists = ListStore(p_pq)
    dec = new_pq.pq.decode_np(lists.column("code")[lists.rows_of(np.arange(n))])
    dec += new_pq.centroids[lists.list_of_rows(lists.rows_of(np.arange(n)))]
    want_i, want_d = _np_topk(xq, dec, K)
    for index in (pq, new_pq):
        got_i, got_d = _result(index.search(qdf, K, NLIST), 10, K)
        np.testing.assert_array_equal(got_i, want_i)
        np.testing.assert_allclose(got_d, want_d, rtol=1e-9)
    assert set(os.listdir(p_pq)) == {"store", "meta.json", "centroids.npy"}


def test_qid_positions_match_a_qid_dict():
    """The sorted lookup maps each qid to the position a ``{qid: i}``
    dict would (the last one for a repeated qid)."""
    rng = np.random.default_rng(8)
    qids = rng.permutation(np.arange(1000, 1300))
    qids[[7, 40]] = qids[3]  # a repeated qid
    keys = rng.choice(qids, 2000)
    want = {int(q): i for i, q in enumerate(qids)}
    got = qid_positions(qids, pd.Series(keys))
    assert got.tolist() == [want[int(q)] for q in keys]
