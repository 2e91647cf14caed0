"""Coded scan replica (SQ8 lists) + exact-refine sidecar.

The at-scale layout split: scans read 1-byte codes (4x less IO /
memory traffic than fp32), the final top-k re-ranks EXACTLY against an
id-addressable raw fp32 blob with positioned reads (faiss
IndexRefineFlat + DirectMap posture; reference
``Auncel/OnDiskInvertedLists.h:51-110``, ``Auncel/DirectMap.h:35-60``).

Contracts pinned here:
- blob round-trip: gather(ids) returns the exact float32 vectors, for
  dense AND non-dense id spaces;
- refine_topk == exact brute-force top-k over the candidate pool;
- IVFIndex.search on the coded replica == search on flat lists
  EXACTLY (same ids, same distances) — the refine pad absorbs SQ8
  rank perturbation at these scales;
- ErrorProfile.search under the replica returns exact distances and
  meets the same bound-satisfaction the flat path does;
- the disk-neutral swap (delete_source=True) leaves a loadable index
  whose `.data` view still produces exact vectors.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from auncel_spark.config import Metric
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.index.refine_blob import RefineBlob, build_refine_blob


N, D, NLIST = 6000, 16, 32


def _mk(spark, tmp, n=N, seed=3, dense=True):
    rng = np.random.default_rng(seed)
    vec = rng.standard_normal((n, D)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    if not dense:
        ids = ids * 7 + 3
    pdf = pd.DataFrame({"id": ids, "vec": list(vec)})
    df = spark.createDataFrame(pdf)
    idx = IVFIndex.build(df, nlist=NLIST, path=str(tmp / "ivf"), seed=1)
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
    idx, vec, ids = _mk(spark, tmp_path)
    idx.build_scan_replica()
    idx.build_refine_sidecar(delete_source=False)
    return idx, vec, ids, tmp_path


def test_blob_gather_exact(replica_idx):
    idx, vec, ids, _ = replica_idx
    pick = np.array([0, 17, 4242, N - 1], dtype=np.int64)
    got = idx.refine_blob.gather(pick)
    np.testing.assert_array_equal(got, vec[pick])


def test_blob_non_dense_ids(spark, tmp_path):
    idx, vec, ids = _mk(spark, tmp_path, n=2000, dense=False)
    idx.build_refine_sidecar()
    blob = idx.refine_blob
    assert blob is not None and not blob.dense
    pick = ids[[5, 99, 1500]]
    np.testing.assert_array_equal(blob.gather(pick), vec[[5, 99, 1500]])
    with pytest.raises(KeyError):
        blob.rows_of(np.array([1], dtype=np.int64))  # 1 is not 7k+3


def test_refine_topk_is_exact(spark, replica_idx):
    idx, vec, ids, _ = replica_idx
    _, q = _queries(spark, nq=8)
    qids = np.arange(8, dtype=np.int64) + 1000
    # candidate pool: 64 arbitrary ids per query
    rng = np.random.default_rng(0)
    pool = rng.choice(N, size=(8, 64), replace=False).astype(np.int64)
    qpos = np.repeat(np.arange(8, dtype=np.int32), 64)
    res = idx.refine_blob.refine_topk(
        spark, qids, q.astype(np.float64), qpos, pool.ravel(), 5, Metric.L2
    ).toPandas()
    for i in range(8):
        d = ((vec[pool[i]].astype(np.float64) - q[i].astype(np.float64)) ** 2).sum(1)
        order = np.lexsort((pool[i], d))[:5]
        sub = res[res.qid == qids[i]].sort_values("pos")
        np.testing.assert_array_equal(sub["id"].to_numpy(), pool[i][order])
        np.testing.assert_allclose(sub["dist"].to_numpy(), d[order], rtol=1e-9)


def test_coded_search_matches_flat(spark, replica_idx):
    idx, vec, ids, tmp = replica_idx
    qdf, _ = _queries(spark)
    flat = idx.search(qdf, 10, nprobe=8).toPandas()
    idx.use_replica(True)
    coded = idx.search(qdf, 10, nprobe=8).toPandas()
    idx.use_replica(False)
    f = flat.sort_values(["qid", "pos"]).reset_index(drop=True)
    c = coded.sort_values(["qid", "pos"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(f[["qid", "pos", "id"]], c[["qid", "pos", "id"]])
    np.testing.assert_allclose(f["dist"], c["dist"], rtol=1e-9)


def test_elp_search_coded_exact_and_bounded(spark, replica_idx):
    from auncel_spark.profile.error_profile import ErrorProfile

    idx, vec, ids, _ = replica_idx
    train, _ = _queries(spark, nq=60, seed=21)
    ep = ErrorProfile(idx, max_topk=30)
    ep.fit(train)
    qdf, q = _queries(spark, nq=25, seed=33)
    idx.use_replica(True)
    res = ep.search(qdf, 10, require_acc=0.9).toPandas()
    idx.use_replica(False)
    # distances must be EXACT (refined), not decoded-approximate
    base = vec.astype(np.float64)
    for qid, grp in res.groupby("qid"):
        qv = q[int(qid) - 1000].astype(np.float64)
        d = ((base[grp["id"].to_numpy()] - qv) ** 2).sum(1)
        np.testing.assert_allclose(grp["dist"].to_numpy(), d, rtol=1e-9)
    # and recall parity with the flat path: the coded scan + exact
    # refine must not trail the flat scan under identical knobs (the
    # absolute level is a calibration property, not tested here)
    flat = ep.search(qdf, 10, require_acc=0.9).toPandas()
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


def test_swap_keeps_exact_data_view(spark, tmp_path):
    idx, vec, ids = _mk(spark, tmp_path, n=3000)
    qdf, q = _queries(spark, nq=10)
    # the same in-memory index across every change to its files: each
    # step must drop the held list tables, or the next scan reads a
    # stale listing (the swap deletes lists/ under it)
    _assert_exact_search(idx, qdf, q, vec)  # flat lists, now held
    idx.build_scan_replica()
    _assert_exact_search(idx, qdf, q, vec)  # flat lists, re-opened
    idx.use_replica(True)
    # SQ8 codes without a sidecar are unrefined: exact over the
    # decoded codes, numpy-decoded from the replica table itself
    sdf, (off, scale) = idx.scan_source()
    pdf = sdf.select("id", "code").toPandas().sort_values("id")
    codes = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8).reshape(len(pdf), D)
    _assert_exact_search(idx, qdf, q, codes * scale + off)
    idx.build_refine_sidecar(delete_source=True)
    assert not os.path.isdir(os.path.join(idx.data_path, "lists"))
    _assert_exact_search(idx, qdf, q, vec)  # codes + exact refine
    got = idx.data.filter(F.col("id") < 5).orderBy("id").toPandas()
    np.testing.assert_array_equal(np.array(list(got["vec"]), dtype=np.float32), vec[:5])
    # reload from disk: replica becomes the scan source automatically
    idx2 = IVFIndex.load(spark, idx.data_path)
    assert idx2._use_replica
    got = (
        idx2.data.filter(F.col("id") < 5)
        .orderBy("id")
        .toPandas()
    )
    np.testing.assert_allclose(
        np.array(list(got["vec"]), dtype=np.float32), vec[:5], rtol=0, atol=0
    )
    # searches still run and refine exactly
    _assert_exact_search(idx2, qdf, q, vec)


def test_manifest_restart(spark, tmp_path):
    """A crashed sidecar build resumes from the manifest and produces
    byte-identical output: roll the manifest back to a prefix of the
    partitions (the builder truncates the data files to the durable
    row count itself) and re-run."""
    import json

    idx, vec, ids = _mk(spark, tmp_path, n=2000)
    lists_root = os.path.join(idx.data_path, "lists")
    rdir = os.path.join(idx.data_path, "refine")
    build_refine_blob(idx.data_path, lists_root, D)
    full = np.fromfile(os.path.join(rdir, "vectors.f32"), dtype=np.float32)
    man = json.load(open(os.path.join(rdir, "manifest.json")))
    parts = sorted(man["done"])
    # crash simulation: only the first half of the partitions are
    # durable; the vectors file still holds the full (unacknowledged)
    # tail, which the resumed build must truncate away
    keep = parts[: len(parts) // 2]
    rows = max(man["done"][p][1] for p in keep)
    with open(os.path.join(rdir, "manifest.json"), "w") as f:
        json.dump({"done": {p: man["done"][p] for p in keep}, "rows": rows}, f)
    stats = build_refine_blob(idx.data_path, lists_root, D)
    assert stats["rows"] == 2000
    got = np.fromfile(os.path.join(rdir, "vectors.f32"), dtype=np.float32)
    np.testing.assert_array_equal(got, full)
    # the resumed id stream still maps every id to its own vector
    np.testing.assert_array_equal(RefineBlob(idx.data_path).gather(ids), vec)


@pytest.mark.parametrize("ids", [[0, 0, 2, 3], [5, 9, 9, 12]])
def test_blob_rejects_duplicate_ids(tmp_path, ids):
    """A store addressed by id needs unique ids. [0, 0, 2, 3] spans
    0..n-1 yet repeats 0: without the check, absent id 1 read id 0's
    vector and the first copy of id 0 could not be reached."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "lists" / "list_no=0"
    part.mkdir(parents=True)
    vec = np.arange(4 * D, dtype=np.float32).reshape(4, D)
    pq.write_table(
        pa.table({
            "id": pa.array(ids, pa.int64()),
            "vec": pa.array([r.tolist() for r in vec], pa.list_(pa.float32())),
        }),
        str(part / "part-0.parquet"),
    )
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="duplicate ids"):
        build_refine_blob(out, str(tmp_path / "lists"), D)
    assert not RefineBlob.exists(out)


def test_interrupted_swap_refuses_partial_flat(spark, tmp_path):
    """ADVICE r09 (medium): a delete_source swap that crashed mid-build
    leaves a PARTIAL flat lists/ dir (some partitions already moved
    into the blob and deleted) with refine/manifest.json recording
    progress but no refine/meta.json. load() must refuse — the partial
    flat scan would silently drop the swapped lists from results — and
    point at the resumable sidecar build."""
    import json
    import shutil

    idx, vec, ids = _mk(spark, tmp_path, n=2000, seed=5)
    idx.build_scan_replica()
    lists_root = os.path.join(idx.data_path, "lists")
    rdir = os.path.join(idx.data_path, "refine")
    # simulate the crash: run the full build (no delete), then roll the
    # manifest back to a prefix, remove meta.json, and delete exactly
    # the partitions the rolled-back manifest acknowledges
    build_refine_blob(idx.data_path, lists_root, D)
    man = json.load(open(os.path.join(rdir, "manifest.json")))
    parts = sorted(man["done"])
    keep = parts[: len(parts) // 2]
    rows = max(man["done"][p][1] for p in keep)
    with open(os.path.join(rdir, "manifest.json"), "w") as f:
        json.dump({"done": {p: man["done"][p] for p in keep}, "rows": rows}, f)
    os.remove(os.path.join(rdir, "meta.json"))
    for p in keep:
        shutil.rmtree(os.path.join(lists_root, p))
    with pytest.raises(RuntimeError, match="interrupted refine-sidecar"):
        IVFIndex.load(spark, idx.data_path)
    # resuming the build completes the swap and load() works again
    idx.build_refine_sidecar(delete_source=True)
    idx2 = IVFIndex.load(spark, idx.data_path)
    assert idx2._use_replica


def test_refine_pad_single_source():
    """The refine pad has exactly one definition (ADVICE r09 #3): the
    ELP kept-state and the fixed-nprobe search path must both read
    refine_blob.REFINE_PAD."""
    from auncel_spark.index.refine_blob import REFINE_PAD
    from auncel_spark.profile.error_profile import ErrorProfile

    assert ErrorProfile._REFINE_PAD is REFINE_PAD


def test_willneed_density_gate(tmp_path, monkeypatch):
    """Sparse row sets must not let the coalescing bridge read far more
    bytes than the gather needs (the 10M A/B measured +55% bytes from
    fixed-gap bridging); dense runs must still collapse into one long
    sequential range."""
    import numpy as np

    from auncel_spark.index import refine_blob as rb

    calls = []
    monkeypatch.setattr(
        rb.os, "posix_fadvise", lambda fd, off, ln, flag: calls.append((off, ln))
    )
    path = tmp_path / "v.f32"
    path.write_bytes(b"\0" * 4096)
    # sparse: every 200th row — gap_rows=256 would bridge every hole
    rows = np.arange(0, 200 * 200, 200, dtype=np.int64)
    rb._willneed_rows(str(path), rows, d=1, gap_rows=256, itemsize=4)
    covered_rows = sum(ln for _, ln in calls) / 4
    assert covered_rows <= 2.0 * len(rows)
    calls.clear()
    # dense: consecutive rows keep ONE coalesced range
    rows = np.arange(0, 5000, dtype=np.int64)
    rb._willneed_rows(str(path), rows, d=1, gap_rows=256, itemsize=4)
    assert len(calls) == 1 and calls[0][1] == 5000 * 4
