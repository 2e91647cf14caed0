"""Exact-refine sidecar: an id-addressable raw float32 matrix.

The at-scale storage split (SURVEY.md §2 S4/S5 + O9): the SCAN path
reads compressed codes (SQ8 lists — 4x less bandwidth than fp32, see
``IVFIndex.build_scan_replica``), and EXACTNESS is restored by
re-ranking the final candidate pool against this sidecar with
positioned reads — k·pool rows per query batch instead of a streamed
pass over the uncompressed corpus. This is the faiss posture of
``IndexRefineFlat`` + ``DirectMap`` over ``OnDiskInvertedLists``
(reference: ``Auncel/IndexRefine.h``, ``Auncel/DirectMap.h:35-60``,
``Auncel/OnDiskInvertedLists.h:51-110``): the refine storage is
addressed BY ID, not scanned.

Layout under ``<path>/refine/``:
- ``vectors.f32`` — (n, d) float32, row order = ingestion (list) order;
- ``ids_order.i64`` — raw int64 id of each blob row (ingestion
  order), the append stream a resumed build truncates and extends;
- ``perm.npy``    — int64 id -> blob row, when ids are dense 0..n-1
  (the common case for corpus row ids); otherwise ``ids_sorted.npy`` +
  ``rows_sorted.npy`` for a searchsorted lookup;
- ``meta.json``   — {n, d, dense}.

Ids must be unique: ``build_refine_blob`` raises ``ValueError`` on a
repeated id.

Scale notes (the 100 TB read):
- the blob is written APPEND-ONLY in list order (one sequential pass
  over the source lists — no shuffle-sort of the corpus), and the
  id->row map is what makes arbitrary order addressable;
- refine reads are ``pread``-shaped: nq·pool rows x (8 B map + d·4 B
  vector), made by the driver sorted by offset (semi-sequential)
  behind one coalesced WILLNEED per range, with MADV_RANDOM so the
  kernel does not inflate each 384 B row into a 128 KB readahead
  window; the exact re-rank (``RefineBlob.refine_topk``) is a numpy
  kernel over those rows and launches no Spark job;
- on a multi-node cluster the blob lives on shared storage and the
  same positioned reads become ranged GETs — the map + offset
  arithmetic is storage-agnostic.
"""

from __future__ import annotations

import json
import mmap
import os

import numpy as np
import pandas as pd

from auncel_spark.config import Metric


# Refine-pool headroom under a coded scan: the kept top-k state is
# padded by this many extra candidates so code-space rank slips at the
# pool boundary stay recoverable by the exact refine (measured at 100M:
# pad 16 lost true members below rank 66 on the worst query — bound
# satisfaction 0.94; pad 64 restores 1.0/1.0/0.98 at zero flat-scan
# cost). Single source of truth — ErrorProfile and IVFIndex.search both
# read it (ADVICE r09: a retune must not miss a hardcoded copy).
REFINE_PAD = 64

# candidate pairs per block of the exact re-rank: 64k pairs at d 96 is
# a 50 MB float64 block
_REFINE_BLOCK = 1 << 16

# WILLNEED bridge cap: coalesced readahead ranges may cover at most
# this multiple of the rows a gather needs (see ``_willneed_rows``)
_WILLNEED_INFL = 2.0


def _refine_dir(path: str) -> str:
    return os.path.join(path, "refine")


def _willneed_rows(path: str, rows_sorted: np.ndarray, d: int,
                   gap_rows: int = 256, itemsize: int = 4,
                   offset: int = 0) -> None:
    """Coalesced async readahead for a sorted row set before a memmap
    gather. MADV_RANDOM (set on the maps to stop 128 KB readahead per
    fault) also means every COLD pool row is a synchronous 4 KB page
    fault — measured on the r09 100M cold grid as 17.8 MB/s effective
    over ~370k preads (cold k10_b1 84.1 ms/q, the whole tail). Rows
    are already offset-sorted by every caller, so adjacent candidates
    coalesce into ranges (gaps under ``gap_rows`` rows are bridged —
    readahead of a skipped 96 KB costs less than a second seek), and
    one POSIX_FADV_WILLNEED per range queues the batch asynchronously
    ahead of the gather. No-op without posix_fadvise or on warm pages
    (the kernel skips resident ranges)."""
    if len(rows_sorted) == 0 or not hasattr(os, "posix_fadvise"):
        return
    rb = d * itemsize
    rows = np.asarray(rows_sorted, dtype=np.int64)
    # vectorized coalescing: range boundaries where the gap exceeds
    # gap_rows (python-loop version cost ~1 ms per 1k rows — the PQ
    # pool is 50k rows per task)
    diffs = np.diff(rows)
    brk = np.where(diffs > gap_rows)[0]
    starts = rows[np.concatenate(([0], brk + 1))]
    ends = rows[np.concatenate((brk, [len(rows) - 1]))]
    # density-aware bridge gate (VERDICT r10 Next #2): at 10M pool
    # density the fixed gap_rows bridged enough holes to read +55%
    # bytes vs no hint (3.56 vs 2.29 GB measured, evidence/
    # 10m_willneed_ab_r10.json) — a win on that box's device but an
    # unbounded risk where cold bandwidth is the constraint. When the
    # coalesced ranges would cover more than _WILLNEED_INFL× the bytes
    # the gather actually needs, halve gap_rows until they don't: dense
    # pools (the 100M case — most rows touched) keep long sequential
    # ranges, sparse pools degrade toward exact per-row hints instead
    # of paying bridged readahead.
    needed = len(rows)  # row units; byte factor rb cancels
    gap = gap_rows
    while gap > 0:
        covered = int((ends - starts).sum()) + len(starts)
        if covered <= _WILLNEED_INFL * needed:
            break
        gap //= 2
        brk = np.where(diffs > gap)[0]
        starts = rows[np.concatenate(([0], brk + 1))]
        ends = rows[np.concatenate((brk, [len(rows) - 1]))]
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        # plain ints: a sparse pool is one hint per row, and numpy
        # scalar arithmetic per hint cost more than the syscall
        offs = (offset + starts * rb).tolist()
        lens = ((ends - starts + 1) * rb).tolist()
        for o, ln in zip(offs, lens):
            os.posix_fadvise(fd, o, ln, os.POSIX_FADV_WILLNEED)
    except OSError:
        pass
    finally:
        os.close(fd)


class RefineBlob:
    """Handle over a built sidecar; cheap to construct, memmaps lazily."""

    def __init__(self, path: str):
        self.dir = _refine_dir(path)
        with open(os.path.join(self.dir, "meta.json")) as f:
            m = json.load(f)
        self.n = int(m["n"])
        self.d = int(m["d"])
        self.dense = bool(m["dense"])
        self._vecs = None
        self._perm = None
        self._ids_sorted = None
        self._rows_sorted = None

    # -- existence ------------------------------------------------------

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(_refine_dir(path), "meta.json"))

    # -- local (driver/task) access --------------------------------------

    def _maps(self):
        if self._vecs is None:
            self._vecs = np.memmap(
                os.path.join(self.dir, "vectors.f32"),
                dtype=np.float32,
                mode="r",
                shape=(self.n, self.d),
            )
            try:  # 384 B rows must not fault in 128 KB readahead windows
                self._vecs._mmap.madvise(mmap.MADV_RANDOM)
            except (AttributeError, OSError):
                pass
            if self.dense:
                self._perm = np.load(
                    os.path.join(self.dir, "perm.npy"), mmap_mode="r"
                )
                try:
                    self._perm._mmap.madvise(mmap.MADV_RANDOM)
                except (AttributeError, OSError):
                    pass
            else:
                self._ids_sorted = np.load(
                    os.path.join(self.dir, "ids_sorted.npy"), mmap_mode="r"
                )
                self._rows_sorted = np.load(
                    os.path.join(self.dir, "rows_sorted.npy"), mmap_mode="r"
                )
        return self._vecs

    def rows_of(self, ids: np.ndarray) -> np.ndarray:
        self._maps()
        ids = np.asarray(ids, dtype=np.int64)
        if self.dense:
            # the perm map is MADV_RANDOM too: a cold id->row lookup
            # over an 8 B/entry file would fault one 4 KB page per ~512
            # ids SYNCHRONOUSLY on the driver — queue the page ranges
            # first (same coalescing as the vector gather)
            # gap_rows 4096 = bridge 32 KB holes: at typical pool
            # densities (~1 id per 270 entries) nearly every perm page
            # is touched anyway, so the coalesced ranges collapse into
            # long sequential readahead instead of per-page seeks
            _willneed_rows(
                os.path.join(self.dir, "perm.npy"),
                np.sort(ids), 1, itemsize=8, gap_rows=4096,
                offset=int(getattr(self._perm, "offset", 0)),
            )
            return np.asarray(self._perm[ids], dtype=np.int64)
        pos = np.searchsorted(self._ids_sorted, ids)
        pos = np.clip(pos, 0, len(self._ids_sorted) - 1)
        if not (self._ids_sorted[pos] == ids).all():
            raise KeyError("refine blob: unknown id in lookup")
        return np.asarray(self._rows_sorted[pos], dtype=np.int64)

    def gather(self, ids: np.ndarray) -> np.ndarray:
        """(len(ids), d) float32 exact vectors, positioned reads."""
        vecs = self._maps()
        rows = self.rows_of(ids)
        order = np.argsort(rows, kind="stable")  # offset-sorted IO
        _willneed_rows(
            os.path.join(self.dir, "vectors.f32"), rows[order], self.d
        )
        out = np.empty((len(rows), self.d), dtype=np.float32)
        out[order] = vecs[rows[order]]
        return out

    # -- exact refine ----------------------------------------------------

    def refine_topk(
        self,
        spark,
        qids: np.ndarray,
        qmat: np.ndarray,
        cand_qpos: np.ndarray,
        cand_ids: np.ndarray,
        k: int,
        metric: Metric,
    ):
        """Exact (qid, pos, id, dist) top-k over a candidate pair set.

        cand_qpos: row index into qids/qmat per candidate; cand_ids:
        candidate vector id. A driver-side numpy kernel, no Spark job:
        the pairs are sorted by blob row once, one coalesced WILLNEED
        queues the whole batch's reads ahead of the first one, and the
        vectors are read in that offset order (semi-sequential) in
        blocks of ``_REFINE_BLOCK`` pairs, so driver memory stays
        bounded at any batch size. Float64 distances are taken row by
        row, and one lexsort orders each query's pairs by (dist, id).
        The candidate set is nq·pool rows, already on the driver in
        every caller; the reads run on one driver thread."""
        cand_qpos = np.asarray(cand_qpos, dtype=np.int64)
        cand_ids = np.asarray(cand_ids, dtype=np.int64)
        qmat = np.asarray(qmat, dtype=np.float64)
        vecs = self._maps()
        rows = self.rows_of(cand_ids)
        by_row = np.argsort(rows, kind="stable")
        rows = rows[by_row]
        _willneed_rows(os.path.join(self.dir, "vectors.f32"), rows, self.d)
        dist = np.empty(len(cand_ids), dtype=np.float64)
        for lo in range(0, len(rows), _REFINE_BLOCK):
            blk = by_row[lo : lo + _REFINE_BLOCK]
            mat = np.asarray(vecs[rows[lo : lo + _REFINE_BLOCK]], dtype=np.float64)
            qv = qmat[cand_qpos[blk]]
            if metric == Metric.L2:
                diff = mat - qv
                dist[blk] = (diff * diff).sum(axis=1)
            else:
                dist[blk] = -(mat * qv).sum(axis=1)
        order = np.lexsort((cand_ids, dist, cand_qpos))
        qp = cand_qpos[order]
        # rank within each query's run of the sorted pairs
        starts = np.flatnonzero(np.diff(qp, prepend=-1))
        pos = np.arange(len(qp)) - np.repeat(starts, np.diff(np.r_[starts, len(qp)]))
        top = pos < k
        keep = order[top]
        pdf = pd.DataFrame(
            {
                "qid": np.asarray(qids, dtype=np.int64)[cand_qpos[keep]],
                "pos": pos[top].astype(np.int32),
                "id": cand_ids[keep],
                "dist": dist[keep],
            }
        )
        return spark.createDataFrame(pdf, "qid bigint, pos int, id bigint, dist double")


def build_refine_blob(
    path: str,
    list_root: str,
    d: int,
    delete_source: bool = False,
) -> dict:
    """Stream every ``list_no=*`` parquet partition under ``list_root``
    into the sidecar. Restartable: ``manifest.json`` records finished
    partitions with their row offsets; a crashed build resumes after
    the last completed partition. ``delete_source`` removes each
    partition dir AFTER its rows are durably appended — the disk-
    neutral in-place swap (the blob's raw bytes ≈ the parquet's
    uncompressed fp32 pages, so peak extra disk is one partition).

    Driver-side by design: ONE sequential write stream, no shuffle. On
    a cluster this becomes a per-node pass over node-local lists; the
    id->row map is what keeps arbitrary ingestion order addressable."""
    import shutil
    import time

    import pyarrow.parquet as pq

    rdir = _refine_dir(path)
    os.makedirs(rdir, exist_ok=True)
    man_path = os.path.join(rdir, "manifest.json")
    vec_path = os.path.join(rdir, "vectors.f32")
    ids_path = os.path.join(rdir, "ids_order.i64")
    man = {"done": {}, "rows": 0}
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
    parts = sorted(
        e for e in os.listdir(list_root) if e.startswith("list_no=")
    )
    t0 = time.time()
    vf = open(vec_path, "ab")
    idf = open(ids_path, "ab")
    # truncate to the manifest's durable state (a crash mid-append
    # leaves a partial tail the manifest does not acknowledge)
    vf.truncate(man["rows"] * d * 4)
    idf.truncate(man["rows"] * 8)
    try:
        for part in parts:
            if part in man["done"]:
                continue
            pdir = os.path.join(list_root, part)
            rows_before = man["rows"]
            for fname in sorted(os.listdir(pdir)):
                if not fname.endswith(".parquet"):
                    continue
                t = pq.read_table(
                    os.path.join(pdir, fname), columns=["id", "vec"]
                )
                ids = t.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
                flat = t.column("vec").combine_chunks().flatten().to_numpy(
                    zero_copy_only=False
                )
                mat = np.asarray(flat, dtype=np.float32).reshape(len(ids), d)
                vf.write(mat.tobytes())
                idf.write(ids.tobytes())
                man["rows"] += len(ids)
            vf.flush()
            os.fsync(vf.fileno())
            idf.flush()
            os.fsync(idf.fileno())
            man["done"][part] = [rows_before, man["rows"]]
            with open(man_path + ".tmp", "w") as f:
                json.dump(man, f)
            os.replace(man_path + ".tmp", man_path)
            if delete_source:
                shutil.rmtree(pdir)
    finally:
        vf.close()
        idf.close()
    n = man["rows"]
    ids_order = np.fromfile(ids_path, dtype=np.int64)
    assert len(ids_order) == n, "refine blob: ids/vectors row mismatch"
    # a store addressed by id needs each id once: a repeated id would
    # shadow one of its rows and, in a 0..n-1 range, leave an absent id
    # mapped to another id's vector
    dup = ValueError("refine blob: duplicate ids in the source lists")
    dense = bool(n > 0 and ids_order.min() == 0 and ids_order.max() == n - 1)
    if dense:
        perm = np.full(n, -1, dtype=np.int64)
        perm[ids_order] = np.arange(n, dtype=np.int64)
        if (perm < 0).any():  # n ids in 0..n-1 fill every slot iff unique
            raise dup
        np.save(os.path.join(rdir, "perm.npy"), perm)
    else:
        order = np.argsort(ids_order, kind="stable")
        ids_sorted = ids_order[order]
        if (ids_sorted[1:] == ids_sorted[:-1]).any():
            raise dup
        np.save(os.path.join(rdir, "ids_sorted.npy"), ids_sorted)
        np.save(os.path.join(rdir, "rows_sorted.npy"), order.astype(np.int64))
    with open(os.path.join(rdir, "meta.json"), "w") as f:
        json.dump({"n": n, "d": d, "dense": dense}, f)
    return {
        "rows": n,
        "gb": round(n * d * 4 / 1e9, 2),
        "sec": round(time.time() - t0, 1),
        "dense": dense,
        "deleted_source": delete_source,
    }
