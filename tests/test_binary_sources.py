from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from auncel_spark.index.binary import (
    BinaryIVFIndex,
    float_to_binary,
    hamming_knn,
    hamming_range_count,
    lsh_sketch,
    pack_bits_np,
)
from auncel_spark.sources.fvecs import read_fbin, read_fvecs, write_fvecs, write_ivecs

K = 5


@pytest.fixture(scope="module")
def bin_data(spark):
    rng = np.random.default_rng(9)
    nb, nq, d = 300, 15, 64
    xb_bits = rng.integers(0, 2, (nb, d))
    xq_bits = rng.integers(0, 2, (nq, d))
    base = spark.createDataFrame(
        [(i, bytes(pack_bits_np(xb_bits[i : i + 1])[0])) for i in range(nb)],
        "id bigint, bits binary",
    ).cache()
    queries = spark.createDataFrame(
        [(i, bytes(pack_bits_np(xq_bits[i : i + 1])[0])) for i in range(nq)],
        "qid bigint, bits binary",
    ).cache()
    return xb_bits, xq_bits, base, queries


def np_hamming_knn(xq_bits, xb_bits, k):
    d = (xq_bits[:, None, :] != xb_bits[None, :, :]).sum(-1)
    ids = np.arange(xb_bits.shape[0])
    order = np.lexsort((np.broadcast_to(ids, d.shape), d), axis=1)[:, :k]
    return order, np.take_along_axis(d, order, axis=1)


def test_hamming_knn_matches_popcount_oracle(bin_data):
    xb, xq, base, queries = bin_data
    res = hamming_knn(queries, base, K)
    ids, dists = np_hamming_knn(xq, xb, K)
    got = {(r["qid"], r["pos"]): (r["id"], r["dist"]) for r in res.collect()}
    for qi in range(xq.shape[0]):
        for p in range(K):
            assert got[(qi, p)][0] == ids[qi, p]
            assert got[(qi, p)][1] == dists[qi, p]


def test_hamming_range_count(bin_data):
    xb, xq, base, queries = bin_data
    t = 28
    res = {r["qid"]: r["cnt"] for r in hamming_range_count(queries, base, t).collect()}
    d = (xq[:, None, :] != xb[None, :, :]).sum(-1)
    for qi in range(xq.shape[0]):
        assert res[qi] == (d[qi] < t).sum()


def test_binary_ivf_full_probe_exact(bin_data):
    xb, xq, base, queries = bin_data
    idx = BinaryIVFIndex.build(base, nlist=8)
    ids, dists = np_hamming_knn(xq, xb, K)
    res = idx.search(queries, K, nprobe=8)
    got = {(r["qid"], r["pos"]): r["id"] for r in res.collect()}
    for qi in range(xq.shape[0]):
        for p in range(K):
            assert got[(qi, p)] == ids[qi, p]


def test_float_to_binary_and_lsh(base_df, tiny_vectors):
    xb, _ = tiny_vectors
    fb = float_to_binary(base_df)
    row = fb.filter("id = 0").collect()[0]
    want = pack_bits_np((xb[0:1] > 0))[0]
    assert bytes(row["bits"]) == bytes(want)
    sk = lsh_sketch(base_df, n_bits=32, seed=7)
    a = {r["id"]: r["bits"] for r in sk.collect()}
    b = {r["id"]: r["bits"] for r in lsh_sketch(base_df, n_bits=32, seed=7).collect()}
    assert a == b  # seeded determinism
    assert len(a[0]) == 4


def test_fvecs_roundtrip(spark, tmp_path, base_df, tiny_vectors):
    xb, _ = tiny_vectors
    p = str(tmp_path / "vecs.fvecs")
    write_fvecs(base_df.orderBy("id"), p)
    back = read_fvecs(spark, p)
    mats = np.array([r["vec"] for r in back.orderBy("id").collect()], dtype=np.float32)
    assert mats.shape == xb.shape
    # same multiset of vectors (per-file ids are synthetic)
    np.testing.assert_allclose(np.sort(mats.sum(1)), np.sort(xb.sum(1)), rtol=1e-5)


def test_fbin_reader(spark, tmp_path):
    rng = np.random.default_rng(1)
    mat = rng.standard_normal((40, 8)).astype(np.float32)
    p = str(tmp_path / "base.fbin")
    with open(p, "wb") as f:
        f.write(struct.pack("<ii", 40, 8))
        f.write(mat.tobytes())
    back = read_fbin(spark, p)
    got = np.array([r["vec"] for r in back.orderBy("id").collect()], dtype=np.float32)
    np.testing.assert_allclose(got, mat, rtol=0)


def test_fvecs_dist_roundtrip_multipartition(spark, tmp_path):
    """Executor-side part-file export + chunk-planned import, no driver
    collect anywhere (VERDICT round-1 item 7)."""
    from auncel_spark.sources.fvecs import read_fvecs, write_fvecs_dist

    rng = np.random.default_rng(3)
    mat = rng.standard_normal((500, 12)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in mat[i]]) for i in range(500)],
        "id bigint, vec array<float>",
    ).repartition(6)
    out = str(tmp_path / "dist_export")
    parts = write_fvecs_dist(df, out)
    assert sum(n for _, n in parts) == 500
    assert len(parts) >= 2  # genuinely multi-partition
    back = read_fvecs(spark, out)
    got = np.array(
        sorted(tuple(r["vec"]) for r in back.collect()), dtype=np.float32
    )
    want = np.array(sorted(tuple(r) for r in mat), dtype=np.float32)
    np.testing.assert_allclose(got, want, rtol=0)


def test_fvecs_chunked_read_of_one_big_file(spark, tmp_path):
    """A single file larger than chunk_bytes splits into several
    byte-range tasks with globally consistent sequential ids
    (split.cpp:60-145 parity)."""
    import struct as _struct

    from auncel_spark.sources.fvecs import read_fvecs

    rng = np.random.default_rng(4)
    n, d = 300, 8
    mat = rng.standard_normal((n, d)).astype(np.float32)
    p = str(tmp_path / "big.fvecs")
    with open(p, "wb") as f:
        for row in mat:
            f.write(_struct.pack("<i", d))
            f.write(row.tobytes())
    rec = 4 + d * 4
    back = read_fvecs(spark, p, chunk_bytes=rec * 64)  # ~5 chunks
    rows = back.collect()
    assert len(rows) == n
    ids = sorted(r["id"] for r in rows)
    assert ids == list(range(ids[0], ids[0] + n))  # contiguous ids
    by_id = {r["id"]: np.asarray(r["vec"], dtype=np.float32) for r in rows}
    got = np.stack([by_id[i] for i in ids])
    np.testing.assert_allclose(got, mat, rtol=0)


def test_fvecs_truncated_file_rejected(spark, tmp_path):
    import struct as _struct

    from auncel_spark.sources.fvecs import read_fvecs

    p = str(tmp_path / "trunc.fvecs")
    with open(p, "wb") as f:
        f.write(_struct.pack("<i", 8))
        f.write(b"\x00" * 20)  # 8 floats promised, 5 bytes short
    with pytest.raises(Exception):
        read_fvecs(spark, p).collect()


def test_generalized_hamming_knn_byte_oracle(spark):
    """ghamming = count of unequal BYTES (hamming.h:91-132)."""
    rng = np.random.default_rng(11)
    nb, nq, B = 200, 10, 8
    xb = rng.integers(0, 4, (nb, B)).astype(np.uint8)  # small symbol space -> ties
    xq = rng.integers(0, 4, (nq, B)).astype(np.uint8)
    base = spark.createDataFrame(
        [(i, bytes(xb[i])) for i in range(nb)], "id bigint, bits binary"
    )
    queries = spark.createDataFrame(
        [(i, bytes(xq[i])) for i in range(nq)], "qid bigint, bits binary"
    )
    from auncel_spark.index.binary import generalized_hamming_knn

    res = generalized_hamming_knn(queries, base, 5)
    d = (xq[:, None, :] != xb[None, :, :]).sum(-1)
    ids = np.arange(nb)
    order = np.lexsort((np.broadcast_to(ids, d.shape), d), axis=1)[:, :5]
    got = {(r["qid"], r["pos"]): (r["id"], r["dist"]) for r in res.collect()}
    for qi in range(nq):
        for p in range(5):
            assert got[(qi, p)] == (order[qi, p], float(d[qi, order[qi, p]]))


def test_spectral_hash_beats_random_and_roundtrips(spark, base_df, query_df, tiny_vectors):
    """Spectral-hash codes must put true L2 neighbors closer in Hamming
    space than chance (B14's data-adaptive binarization), and the
    median threshold must split each bit ~evenly."""
    from auncel_spark.config import Metric
    from auncel_spark.index.spectral import SpectralHash
    from auncel_spark.operators.knn import knn_exact

    xb, xq = tiny_vectors
    sh = SpectralHash.train(base_df, nbits=16)
    codes = sh.encode(base_df).cache()
    # bit balance: each bit on for 25-75% of the corpus
    mat = np.array([np.frombuffer(r["bits"], dtype=np.uint8) for r in codes.collect()])
    bits = np.unpackbits(mat, axis=1)[:, :16]
    frac = bits.mean(axis=0)
    assert (frac > 0.25).all() and (frac < 0.75).all()

    K = 10
    res = sh.knn(query_df, codes, K)
    gt = knn_exact(query_df, base_df, K, Metric.L2)
    gt_ids, got_ids = {}, {}
    for r in gt.collect():
        gt_ids.setdefault(r["qid"], set()).add(r["id"])
    for r in res.collect():
        got_ids.setdefault(r["qid"], set()).add(r["id"])
    rec = np.mean([len(gt_ids[q] & got_ids.get(q, set())) / K for q in gt_ids])
    assert rec > 3 * K / len(xb)  # far above the random-k baseline


def test_hamming_range_count_no_queries(bin_data):
    """No queries → an empty (qid, cnt) frame, not a worker error."""
    _, _, base, queries = bin_data
    res = hamming_range_count(queries.limit(0), base, 28)
    assert res.columns == ["qid", "cnt"]
    assert res.count() == 0


def test_binary_ivf_partial_probe_matches_numpy(bin_data):
    """At nprobe < nlist each query scans exactly its nprobe
    lowest-Hamming lists (stable argsort over the medoids), ranked by
    (dist, id) — a numpy replay of the build's medoid assignment."""
    xb, xq, base, queries = bin_data
    nlist, nprobe = 8, 3
    idx = BinaryIVFIndex.build(base, nlist=nlist)
    cents = xb[:nlist]  # medoids: the nlist lowest-id codes
    lists = (xb[:, None, :] != cents[None]).sum(-1).argmin(axis=1)
    dq = (xq[:, None, :] != cents[None]).sum(-1)
    probe = np.argsort(dq, axis=1, kind="stable")[:, :nprobe]
    res = idx.search(queries, K, nprobe=nprobe)
    got = {(r["qid"], r["pos"]): (r["id"], r["dist"]) for r in res.collect()}
    assert len(got) == xq.shape[0] * K
    ids = np.arange(xb.shape[0])
    for qi in range(xq.shape[0]):
        m = np.isin(lists, probe[qi])
        d = (xq[qi][None] != xb[m]).sum(-1)
        for p, j in enumerate(np.lexsort((ids[m], d))[:K]):
            assert got[(qi, p)] == (ids[m][j], d[j])


def test_fbin_header_count_checked(spark, tmp_path):
    """A header n that disagrees with the body is rejected, not read
    as however many whole records the body holds."""
    mat = np.zeros((9, 8), dtype=np.float32)
    p = str(tmp_path / "short.fbin")
    with open(p, "wb") as f:
        f.write(struct.pack("<ii", 10, 8))
        f.write(mat.tobytes())
    with pytest.raises(ValueError, match="n=10"):
        read_fbin(spark, p)
