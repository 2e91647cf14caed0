"""Coded scan replica (SQ8 codes) + exact refine, both in the list store.

The at-scale layout: scans read 1-byte codes (4x less IO / memory
traffic than fp32), the final top-k re-ranks EXACTLY against the same
store's id-addressable fp32 ``vec`` column with positioned reads
(faiss IndexRefineFlat + DirectMap posture; reference
``Auncel/OnDiskInvertedLists.h:51-110``, ``Auncel/DirectMap.h:35-60``).

Contracts pinned here:
- store round-trip: the rows of ids return the exact float32 vectors, for
  dense AND non-dense id spaces;
- refine_topk == exact brute-force top-k over the candidate pool;
- IVFIndex.search on a replica-built index == search on a flat index
  over the same lists EXACTLY (same ids, same distances) — the refine
  pad absorbs SQ8 rank perturbation at these scales;
- ErrorProfile.search under the replica returns exact distances and
  meets the same bound-satisfaction the flat path does;
- a replica-built index's ``data`` view still returns the exact vectors;
- the store writer resumes from its manifest and rejects repeated ids.
"""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from auncel_spark.config import Metric
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.index.list_store import ListStore, append_lists


N, D, NLIST = 6000, 16, 32


def _mk(spark, tmp, n=N, seed=3, dense=True, centroids=None, name="ivf"):
    rng = np.random.default_rng(seed)
    vec = rng.standard_normal((n, D)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    if not dense:
        ids = ids * 7 + 3
    pdf = pd.DataFrame({"id": ids, "vec": list(vec)})
    df = spark.createDataFrame(pdf)
    idx = IVFIndex.build(df, nlist=NLIST, path=str(tmp / name), seed=1, centroids=centroids)
    return idx, vec, ids


def _queries(spark, nq=40, seed=9):
    rng = np.random.default_rng(seed)
    q = rng.standard_normal((nq, D)).astype(np.float32)
    return (
        spark.createDataFrame(
            pd.DataFrame(
                {"qid": np.arange(nq, dtype=np.int64) + 1000, "vec": list(q)}
            )
        ),
        q,
    )


@pytest.fixture()
def replica_idx(spark, tmp_path):
    """A replica-built index and a flat index over the same lists."""
    idx, vec, ids = _mk(spark, tmp_path)
    flat, _, _ = _mk(spark, tmp_path, centroids=idx.centroids, name="flat")
    idx.build_scan_replica()
    return idx, flat, vec, ids


def test_blob_gather_exact(replica_idx):
    idx, _, vec, ids = replica_idx
    pick = np.array([0, 17, 4242, N - 1], dtype=np.int64)
    got = idx.store.column("vec")[idx.store.rows_of(pick)]
    np.testing.assert_array_equal(got, vec[pick])


def test_blob_non_dense_ids(spark, tmp_path):
    idx, vec, ids = _mk(spark, tmp_path, n=2000, dense=False)
    store = ListStore(idx.data_path)
    assert not store.dense
    pick = ids[[5, 99, 1500]]
    np.testing.assert_array_equal(store.column("vec")[store.rows_of(pick)], vec[[5, 99, 1500]])
    with pytest.raises(KeyError):
        store.rows_of(np.array([1], dtype=np.int64))  # 1 is not 7k+3


def test_refine_topk_is_exact(spark, replica_idx):
    idx, _, vec, ids = replica_idx
    _, q = _queries(spark, nq=8)
    qids = np.arange(8, dtype=np.int64) + 1000
    # candidate pool: 64 arbitrary ids per query, as an id matrix
    rng = np.random.default_rng(0)
    pool = rng.choice(N, size=(8, 64), replace=False).astype(np.int64)
    res = idx.store.refine_topk(
        spark, qids, q.astype(np.float64), pool, 5, Metric.L2
    ).toPandas()
    for i in range(8):
        d = ((vec[pool[i]].astype(np.float64) - q[i].astype(np.float64)) ** 2).sum(1)
        order = np.lexsort((pool[i], d))[:5]
        sub = res[res.qid == qids[i]].sort_values("pos")
        np.testing.assert_array_equal(sub["id"].to_numpy(), pool[i][order])
        np.testing.assert_allclose(sub["dist"].to_numpy(), d[order], rtol=1e-9)


def test_coded_search_matches_flat(spark, replica_idx):
    idx, flat_idx, vec, ids = replica_idx
    assert idx.codec_active and not flat_idx.codec_active
    qdf, _ = _queries(spark)
    flat = flat_idx.search(qdf, 10, nprobe=8).toPandas()
    coded = idx.search(qdf, 10, nprobe=8).toPandas()
    f = flat.sort_values(["qid", "pos"]).reset_index(drop=True)
    c = coded.sort_values(["qid", "pos"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(f[["qid", "pos", "id"]], c[["qid", "pos", "id"]])
    np.testing.assert_allclose(f["dist"], c["dist"], rtol=1e-9)


def test_elp_search_coded_exact_and_bounded(spark, replica_idx):
    from auncel_spark.profile.error_profile import ErrorProfile

    idx, flat_idx, vec, ids = replica_idx
    train, _ = _queries(spark, nq=60, seed=21)
    ep_flat = ErrorProfile(flat_idx, max_topk=30)
    ep_flat.fit(train)
    # the same traces and knobs over the replica's coded scan
    ep = ErrorProfile(idx, max_topk=30)
    ep.traces = ep_flat.traces
    qdf, q = _queries(spark, nq=25, seed=33)
    res = ep.search(qdf, 10, require_acc=0.9).toPandas()
    # distances must be EXACT (refined), not decoded-approximate
    base = vec.astype(np.float64)
    for qid, grp in res.groupby("qid"):
        qv = q[int(qid) - 1000].astype(np.float64)
        d = ((base[grp["id"].to_numpy()] - qv) ** 2).sum(1)
        np.testing.assert_allclose(grp["dist"].to_numpy(), d, rtol=1e-9)
    # and recall parity with the flat path: the coded scan + exact
    # refine must not trail the flat scan under identical knobs (the
    # absolute level is a calibration property, not tested here)
    flat = ep_flat.search(qdf, 10, require_acc=0.9).toPandas()
    gt = np.sort(
        ((base[None, :, :] - q[:, None, :].astype(np.float64)) ** 2).sum(2), axis=1
    )

    def _recall(pdf):
        qi = pdf["qid"].to_numpy() - 1000
        ok = pdf["dist"].to_numpy() <= gt[qi, 9] + 1e-9
        return float((pd.Series(ok).groupby(qi).sum() / 10.0).mean())

    assert _recall(res) >= _recall(flat) - 0.02


def _assert_exact_search(idx, qdf, q, vec):
    """Exhaustive-probe top-5 ids equal numpy's over the whole base."""
    res = idx.search(qdf, 5, nprobe=NLIST).toPandas()
    base = vec.astype(np.float64)
    assert res["qid"].nunique() == len(q)
    for qid, grp in res.groupby("qid"):
        d = ((base - q[int(qid) - 1000].astype(np.float64)) ** 2).sum(1)
        order = np.lexsort((np.arange(len(base)), d))[:5]
        np.testing.assert_array_equal(grp.sort_values("pos")["id"].to_numpy(), order)


def test_replica_keeps_exact_data_view(spark, tmp_path):
    """Building the replica adds a code column beside ``vec``: the same
    handle and a fresh load both scan codes, refine exactly, and still
    return the exact vectors from ``data``."""
    idx, vec, ids = _mk(spark, tmp_path, n=3000)
    qdf, q = _queries(spark, nq=10)
    _assert_exact_search(idx, qdf, q, vec)  # flat scan
    idx.build_scan_replica()
    assert idx.codec_active
    assert set(idx.data.columns) == {"id", "vec", "list_no"}
    _assert_exact_search(idx, qdf, q, vec)  # codes + exact refine
    idx2 = IVFIndex.load(spark, idx.data_path)
    assert idx2.codec_active
    for index in (idx, idx2):
        got = index.data.filter(F.col("id") < 5).orderBy("id").toPandas()
        np.testing.assert_array_equal(np.array(list(got["vec"]), dtype=np.float32), vec[:5])
    _assert_exact_search(idx2, qdf, q, vec)


def _stage(tmp_path, parts: dict) -> str:
    """A staging directory of ``list_no=<l>`` parquet partitions, as the
    store writer's Spark step leaves it: {list: (ids, vec rows)}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "staging"
    for ln, (ids, vec) in parts.items():
        part = root / f"list_no={ln}"
        part.mkdir(parents=True)
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int64()),
                "vec": pa.array([r.tolist() for r in vec], pa.list_(pa.float32())),
            }),
            str(part / "part-0.parquet"),
        )
    return str(root)


def test_manifest_restart(tmp_path):
    """A crashed store append resumes from the manifest and produces
    byte-identical output: roll the manifest back to a prefix of the
    lists (the writer truncates the column files to the durable row
    count itself) and re-run."""
    rng = np.random.default_rng(4)
    nlist = 8
    parts = {}
    for ln in range(nlist):
        if ln == 3:
            continue  # an empty list
        m = int(rng.integers(5, 40))
        parts[ln] = (rng.choice(10**6, m, replace=False), rng.standard_normal((m, D)))
    ids = np.concatenate([parts[ln][0] for ln in sorted(parts)])
    assert len(np.unique(ids)) == len(ids)
    staging = _stage(tmp_path, parts)
    out = tmp_path / "store"
    out.mkdir()
    # a full append, with the manifest kept for the crash simulation
    append_lists(str(out), staging, nlist, ["vec"])
    full = (out / "vec.f32").read_bytes()
    offsets = np.fromfile(out / "offsets.i64", dtype=np.int64)
    assert offsets[-1] == len(ids)
    # crash simulation: only the first half of the lists are durable;
    # the column files still hold the full (unacknowledged) tail, which
    # the resumed append must truncate away
    keep = nlist // 2
    man = {
        "done": keep,
        "rows": int(offsets[keep]),
        "offsets": offsets[: keep + 1].tolist(),
        "widths": {"vec": D},
    }
    (out / "manifest.json").write_text(json.dumps(man))
    (out / "meta.json").unlink()
    meta = append_lists(str(out), staging, nlist, ["vec"])
    assert meta["n"] == len(ids)
    assert (out / "vec.f32").read_bytes() == full
    np.testing.assert_array_equal(np.fromfile(out / "offsets.i64", dtype=np.int64), offsets)
    # the resumed id stream still maps every id to its own vector
    store = ListStore(str(tmp_path))
    for ln, (pid, pvec) in parts.items():
        np.testing.assert_array_equal(
            store.column("vec")[store.rows_of(pid)], pvec.astype(np.float32)
        )


@pytest.mark.parametrize("ids", [[0, 0, 2, 3], [5, 9, 9, 12]])
def test_blob_rejects_duplicate_ids(tmp_path, ids):
    """A store addressed by id needs unique ids. [0, 0, 2, 3] spans
    0..n-1 yet repeats 0: without the check, absent id 1 read id 0's
    vector and the first copy of id 0 could not be reached."""
    vec = np.arange(4 * D, dtype=np.float32).reshape(4, D)
    staging = _stage(tmp_path, {0: (np.array(ids), vec)})
    out = tmp_path / "out" / "store"
    out.mkdir(parents=True)
    with pytest.raises(ValueError, match="duplicate ids"):
        append_lists(str(out), staging, 1, ["vec"])
    assert not ListStore.exists(str(tmp_path / "out"))


def test_refine_pad_single_source():
    """The refine pad has exactly one definition: the ELP kept-state and
    the fixed-nprobe search path must both read list_store.REFINE_PAD,
    and ErrorProfile keeps no alias of its own."""
    from auncel_spark.index import ivf
    from auncel_spark.index.list_store import REFINE_PAD
    from auncel_spark.profile import error_profile

    assert error_profile.REFINE_PAD is REFINE_PAD
    assert not hasattr(error_profile.ErrorProfile, "_REFINE_PAD")
    assert ivf.REFINE_PAD is REFINE_PAD


def test_willneed_density_gate(tmp_path, monkeypatch):
    """Sparse row sets must not let the coalescing bridge read far more
    bytes than the gather needs (the 10M A/B measured +55% bytes from
    fixed-gap bridging); dense runs must still collapse into one long
    sequential range."""
    from auncel_spark.index import list_store as ls

    calls = []
    monkeypatch.setattr(
        ls.os, "posix_fadvise", lambda fd, off, ln, flag: calls.append((off, ln))
    )
    path = tmp_path / "v.f32"
    path.write_bytes(b"\0" * 4096)
    # sparse: every 200th row — gap_rows=256 would bridge every hole
    rows = np.arange(0, 200 * 200, 200, dtype=np.int64)
    ls._willneed_rows(str(path), rows, d=1, gap_rows=256, itemsize=4)
    covered_rows = sum(ln for _, ln in calls) / 4
    assert covered_rows <= 2.0 * len(rows)
    calls.clear()
    # dense: consecutive rows keep ONE coalesced range
    rows = np.arange(0, 5000, dtype=np.int64)
    ls._willneed_rows(str(path), rows, d=1, gap_rows=256, itemsize=4)
    assert len(calls) == 1 and calls[0][1] == 5000 * 4


def _hinted(monkeypatch, rows, d=96, itemsize=4):
    """(first row, end row) of each range one ``_willneed_rows`` call
    hints, after checking they are row-aligned, ascending and disjoint
    and that every requested row lies inside one."""
    from auncel_spark.index import list_store as ls

    calls = []
    monkeypatch.setattr(ls, "_fadvise", lambda path, ranges: calls.append(list(ranges)))
    ls._willneed_rows("unused.f32", rows, d=d, itemsize=itemsize)
    assert len(calls) == 1
    ranges = np.asarray(calls[0], dtype=np.int64)
    rb = d * itemsize
    assert (ranges[:, 0] % rb == 0).all() and (ranges[:, 1] % rb == 0).all()
    lo, hi = ranges[:, 0] // rb, (ranges[:, 0] + ranges[:, 1]) // rb
    assert (lo[1:] >= hi[:-1]).all()
    at = np.searchsorted(lo, rows, side="right") - 1
    assert (at >= 0).all() and (rows < hi[at]).all()
    return lo, hi


def _pages(lo, hi, rb=384):
    """Distinct 4 KB pages under the row ranges [lo, hi)."""
    import mmap

    return len(np.unique(np.concatenate([
        np.arange(a * rb // mmap.PAGESIZE, (b * rb - 1) // mmap.PAGESIZE + 1)
        for a, b in zip(lo.tolist(), hi.tolist())
    ])))


def test_willneed_hints_capped(monkeypatch):
    """A sparse pool must not cost one posix_fadvise per row (635k
    calls took 0.85 s of a 2.7 s refine): 600k of 4M d96 rows (a refine
    pool at replica density) go out in at most ``_WILLNEED_MAX_RANGES``
    ranges, within twice the pages the rows sit on. 600k of 60M rows,
    each on a page of its own, keep that page bound instead of the cap:
    bridging to the cap there would read most of the file."""
    from auncel_spark.index import list_store as ls

    rng = np.random.default_rng(4)
    for n, capped in ((4_000_000, True), (60_000_000, False)):
        rows = np.sort(rng.choice(n, 600_000, replace=False)).astype(np.int64)
        lo, hi = _hinted(monkeypatch, rows)
        assert (len(lo) <= ls._WILLNEED_MAX_RANGES) == capped, len(lo)
        assert _pages(lo, hi) <= ls._WILLNEED_INFL * _pages(rows, rows + 1)
