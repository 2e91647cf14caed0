"""One list store: where every IVF-family index keeps its inverted lists.

Reference: ``OnDiskInvertedLists`` (``Auncel/OnDiskInvertedLists.h:51-110``)
keeps an index's lists in one mmapped file in which each list is a
contiguous ``[offset, size)`` range, and both the scan loop and the
refine read it. Here the same layout serves the list scan
(``index/scan.py::scan_ranked`` memmaps it inside its tasks), the exact
refine (positioned reads on the driver, ``ListStore.refine_topk``: the
one re-rank of every candidate pool, as Faiss's ``IndexRefineFlat``
re-ranks by id from one id-addressed store) and the ``IVFIndex.data``
DataFrame view. ``store_of`` writes a DataFrame base into a store once,
for every later re-rank against it.

Layout under ``<path>/store/``:
- ``ids.i64`` — the n ids, in list order;
- ``offsets.i64`` — nlist + 1 row offsets: list l is rows
  ``[offsets[l], offsets[l+1])``;
- one fixed-width file per payload column: ``vec.f32`` (n × d
  float32), ``code.u8`` (IVF-SQ and IVF-PQ codes, or the SQ8 scan
  replica of an IVF-Flat index), ``rcode.u8`` (IVFPQR) and ``bits.u8``
  (binary IVF);
- the id → row map: ``perm.npy`` when the ids are 0..n-1, otherwise
  ``ids_sorted.npy`` + ``rows_sorted.npy`` for a searchsorted lookup;
- ``meta.json`` — {n, nlist, dense, columns: {name: width}, params},
  where ``params`` holds codec parameters such as the SQ8 replica's
  range.

Writing (``write_store``): Spark writes ``(id, <columns>, list_no)``
partitioned by ``list_no`` into a staging directory; the driver then
appends each list's rows to the column files in list order — one
sequential write stream, restartable from ``manifest.json`` — and the
staging directory is removed. A build writes into a fresh directory and
replaces the index at its path only once the new store is complete. Ids
must be unique: the writer raises ``ValueError`` on a repeated id.

Costs: the files are read by path from every task, so a multi-host
deployment needs the store on a shared filesystem. Memmap reads are not
Spark input, so Spark's input metrics do not count them.
"""

from __future__ import annotations

import json
import mmap
import os
import shutil
import tempfile
import weakref

import numpy as np
import pandas as pd

from auncel_spark.config import Metric
from auncel_spark.functions.vector import _rows_of_arrow, to_arrow

# column name -> (file, dtype)
COLUMNS = {
    "vec": ("vec.f32", np.float32),
    "code": ("code.u8", np.uint8),
    "rcode": ("rcode.u8", np.uint8),
    "bits": ("bits.u8", np.uint8),
}

# what a build at an index path replaces: the store and the index's
# own files beside it, so nothing of a previous index there survives
INDEX_FILES = (
    "store", "meta.json", "centroids.npy", "rotation.npy", "enc_of.npy",
    "enc_centroids.npy",
)

# Refine-pool headroom under a coded scan: the kept top-k state is
# padded by this many extra candidates so code-space rank slips at the
# pool boundary stay recoverable by the exact refine. SQ8's error is
# local (vdiff/255 per dim), but the ranks it spans grow with corpus
# density: pad 16 lost no pool member at 10M, yet at 100M k50_b5's
# worst query lost 3 below rank 66 (bound satisfaction 0.94 against
# 0.95); pad 64 restores 1.0/1.0/0.98 for nq·(k+64) positioned reads.
# ErrorProfile and IVFIndex.search both read this one value.
REFINE_PAD = 64

# candidate pairs per block of the exact re-rank: 64k pairs at d 96 is
# a 50 MB float64 block
_REFINE_BLOCK = 1 << 16

# WILLNEED: bridged ranges cover at most _INFL× the bytes the rows of a
# gather need (past _MAX_RANGES ranges, the pages they sit on); one
# posix_fadvise costs ~1.3 µs, and a pool hinted row by row paid 0.85 s
# for 635k rows (see ``_willneed_rows``)
_WILLNEED_INFL = 2.0
_WILLNEED_MAX_RANGES = 1 << 12

# rows per Arrow batch of the ``data`` view
_FRAME_BATCH = 1 << 16

RESULT_SCHEMA = "qid bigint, pos int, id bigint, dist double"


def _fadvise(path: str, ranges) -> None:
    """One POSIX_FADV_WILLNEED per (offset, length) byte range of
    ``path``. Best effort: a no-op without posix_fadvise."""
    if not hasattr(os, "posix_fadvise"):
        return
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        for off, ln in ranges:
            os.posix_fadvise(fd, off, ln, os.POSIX_FADV_WILLNEED)
    except OSError:
        pass
    finally:
        os.close(fd)


def _bridge(starts, ends, cost, budget, limit):
    """Merge ascending inclusive row runs across their cheapest holes:
    at most ``limit`` holes, whose ``cost``s sum to at most ``budget``."""
    order = np.argsort(cost)  # ties break arbitrarily, but the same way each call
    n = min(int(limit), int(np.searchsorted(np.cumsum(cost[order]), budget, side="right")))
    brk = np.sort(order[n:])  # the holes left as breaks
    return starts[np.r_[0, brk + 1]], ends[np.r_[brk, len(ends) - 1]]


def _willneed_rows(path: str, rows_sorted: np.ndarray, d: int,
                   gap_rows: int = 256, itemsize: int = 4,
                   offset: int = 0) -> None:
    """Coalesced async readahead for a sorted row set before a memmap
    gather. MADV_RANDOM (set on the driver's maps to stop 128 KB
    readahead per fault) makes every cold row a synchronous 4 KB page
    fault, so runs of rows coalesce into ranges, one WILLNEED each.
    Holes are bridged smallest first: under ``gap_rows`` rows, within
    ``_WILLNEED_INFL``× the rows' bytes; then, past
    ``_WILLNEED_MAX_RANGES`` ranges, down to that many if that stays
    within ``_WILLNEED_INFL``× the pages the rows sit on (the kernel
    reads whole pages), else only across shared pages."""
    if len(rows_sorted) == 0 or not hasattr(os, "posix_fadvise"):
        return
    rb = d * itemsize
    rows = np.asarray(rows_sorted, dtype=np.int64)
    brk = np.flatnonzero(np.diff(rows) > 1)
    runs = rows[np.r_[0, brk + 1]], rows[np.r_[brk, len(rows) - 1]]
    hole = runs[0][1:] - runs[1][:-1] - 1
    starts, ends = _bridge(
        *runs, hole, _WILLNEED_INFL * len(rows) - int((runs[1] - runs[0] + 1).sum()),
        (hole < gap_rows).sum(),
    )
    if len(starts) > _WILLNEED_MAX_RANGES:
        def pages(s, e):  # first/last page per range, pages covered
            p0, p1 = (offset + s * rb) // mmap.PAGESIZE, (offset + (e + 1) * rb - 1) // mmap.PAGESIZE
            return p0, p1, int((p1 - p0 + 1).sum() - (p0[1:] == p1[:-1]).sum())

        p0, p1, covered = pages(starts, ends)
        cost = np.maximum(p0[1:] - p1[:-1] - 1, 0)
        over = len(starts) - _WILLNEED_MAX_RANGES
        budget = _WILLNEED_INFL * pages(*runs)[2] - covered
        if np.partition(cost, over - 1)[:over].sum() > budget:
            budget = 0  # the cap is out of reach: bridge only shared pages
        starts, ends = _bridge(starts, ends, cost, budget, over)
    # plain ints: a sparse pool is one hint per row, and numpy scalar
    # arithmetic per hint cost more than the syscall
    offs = (offset + starts * rb).tolist()
    lens = ((ends - starts + 1) * rb).tolist()
    _fadvise(path, zip(offs, lens))


def qid_positions(qids, keys) -> np.ndarray:
    """Position in ``qids`` of each qid in ``keys`` (each must occur in
    ``qids``; a repeated qid maps to its last position) by one sorted
    lookup, not a per-row dict."""
    qids = np.asarray(qids, dtype=np.int64)
    by_qid = np.argsort(qids, kind="stable")
    keys = np.asarray(keys, dtype=np.int64)
    return by_qid[np.searchsorted(qids, keys, side="right", sorter=by_qid) - 1]


def _pool_pairs(qids, pool):
    """(query position, id) per candidate of a pool: a ``(qid, id)``
    DataFrame, collected here and mapped to positions in ``qids`` by
    one sorted lookup, or an ``(nq, P)`` id matrix whose row i holds
    query i's candidates, padded with -1."""
    if isinstance(pool, np.ndarray):
        ids = pool.astype(np.int64, copy=False).ravel()
        qpos = np.repeat(np.arange(pool.shape[0], dtype=np.int64), pool.shape[1])
        keep = ids >= 0
        return qpos[keep], ids[keep]
    pdf = pool.select("qid", "id").toPandas()
    return qid_positions(qids, pdf["qid"]), pdf["id"].to_numpy(dtype=np.int64)


def pair_topk(spark, qids, cand_qpos, cand_ids, dist, k: int):
    """(qid, pos, id, dist) top-k per query of scored candidate pairs:
    one lexsort orders each query's pairs by (dist, id)."""
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
    return spark.createDataFrame(pdf, RESULT_SCHEMA)


class ListStore:
    """Handle over a complete store; cheap to construct and to pickle
    (a task gets it by broadcast or closure), memmaps lazily."""

    def __init__(self, path: str):
        self.dir = os.path.join(path, "store")
        with open(os.path.join(self.dir, "meta.json")) as f:
            m = json.load(f)
        self.n = int(m["n"])
        self.nlist = int(m["nlist"])
        self.dense = bool(m["dense"])
        self.columns = {c: int(w) for c, w in m["columns"].items()}
        self.params = m.get("params", {})
        self.offsets = np.fromfile(os.path.join(self.dir, "offsets.i64"), dtype=np.int64)
        self._maps: dict = {}
        self._random = False

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, "store", "meta.json"))

    def __getstate__(self):
        st = dict(self.__dict__)
        st["_maps"], st["_random"] = {}, False
        return st

    # -- files ------------------------------------------------------------

    def path_of(self, name: str) -> str:
        return os.path.join(self.dir, "ids.i64" if name == "id" else COLUMNS[name][0])

    def _map(self, name: str, dtype, shape):
        m = self._maps.get(name)
        if m is None:
            if shape[0] * (shape[1] if len(shape) > 1 else 1) == 0:
                m = np.empty(shape, dtype=dtype)  # mmap refuses empty files
            else:
                m = np.memmap(self.path_of(name), dtype=dtype, mode="r", shape=shape)
            self._maps[name] = m
        return m

    def ids(self) -> np.ndarray:
        return self._map("id", np.int64, (self.n,))

    def column(self, name: str) -> np.ndarray:
        """(n, width) memmap of one payload column."""
        return self._map(name, COLUMNS[name][1], (self.n, self.columns[name]))

    def list_sizes(self) -> np.ndarray:
        return np.diff(self.offsets)

    def willneed(self, name: str, lists: np.ndarray) -> None:
        """One WILLNEED per contiguous byte range of ``lists`` (ascending
        list ids) in a column file and in ``ids.i64``: adjacent lists
        are adjacent rows."""
        lists = np.asarray(lists, dtype=np.int64)
        if len(lists) == 0:
            return
        starts, ends = self.offsets[lists], self.offsets[lists + 1]
        brk = np.flatnonzero(starts[1:] != ends[:-1])
        lo = starts[np.concatenate(([0], brk + 1))]
        hi = ends[np.concatenate((brk, [len(lists) - 1]))]
        for col, rb in ((name, self.columns[name] * np.dtype(COLUMNS[name][1]).itemsize), ("id", 8)):
            _fadvise(self.path_of(col), zip((lo * rb).tolist(), ((hi - lo) * rb).tolist()))

    # -- id-addressed access (driver) -------------------------------------

    def _random_access(self) -> None:
        """The driver's maps read scattered rows: 384 B rows must not
        fault in 128 KB readahead windows."""
        if self._random:
            return
        self._random = True
        for name in list(self.columns) + ["id"]:
            m = self.ids() if name == "id" else self.column(name)
            try:
                m._mmap.madvise(mmap.MADV_RANDOM)
            except (AttributeError, OSError):
                pass

    def rows_of(self, ids: np.ndarray) -> np.ndarray:
        ids = np.asarray(ids, dtype=np.int64)
        if self.dense:
            perm = self._maps.get("perm")
            if perm is None:
                perm = self._maps["perm"] = np.load(
                    os.path.join(self.dir, "perm.npy"), mmap_mode="r"
                )
                try:
                    perm._mmap.madvise(mmap.MADV_RANDOM)
                except (AttributeError, OSError):
                    pass
            # a cold id -> row lookup would fault one 4 KB page per ~512
            # ids synchronously: queue the page ranges first, bridging
            # 32 KB holes (nearly every perm page is touched at typical
            # pool densities anyway)
            _willneed_rows(
                os.path.join(self.dir, "perm.npy"),
                np.sort(ids), 1, itemsize=8, gap_rows=4096,
                offset=int(getattr(perm, "offset", 0)),
            )
            rows = np.asarray(perm[np.clip(ids, 0, max(self.n - 1, 0))], dtype=np.int64)
            if len(ids) and ((ids < 0) | (ids >= self.n)).any():
                raise KeyError("list store: unknown id in lookup")
            return rows
        if "ids_sorted" not in self._maps:
            for nm in ("ids_sorted", "rows_sorted"):
                self._maps[nm] = np.load(os.path.join(self.dir, f"{nm}.npy"), mmap_mode="r")
        ids_sorted = self._maps["ids_sorted"]
        pos = np.clip(np.searchsorted(ids_sorted, ids), 0, max(len(ids_sorted) - 1, 0))
        if len(ids) and (len(ids_sorted) == 0 or not (ids_sorted[pos] == ids).all()):
            raise KeyError("list store: unknown id in lookup")
        return np.asarray(self._maps["rows_sorted"][pos], dtype=np.int64)

    def list_of_rows(self, rows: np.ndarray) -> np.ndarray:
        """List number of each store row."""
        return np.searchsorted(self.offsets, rows, side="right") - 1

    def refine_topk(self, spark, qids, qmat, pool, k: int, metric: Metric, decode=None):
        """Exact (qid, pos, id, dist) top-k of a candidate pool: the one
        re-rank every index runs, on the driver with no Spark job.

        ``qids``/``qmat``: the collected queries. ``pool``: a ``(qid,
        id)`` DataFrame or an ``(nq, P)`` id matrix padded with -1 (see
        ``_pool_pairs``); an empty pool gives an empty result. The pairs
        are sorted by store row and scored in blocks of
        ``_REFINE_BLOCK``, so driver memory stays bounded. ``decode(rows,
        read)`` gives a block's float64 vectors, ``read(name, rows)``
        the block's rows of one column: ``vec`` by default, IVFPQR's
        reconstruction from ``code``/``rcode``. A column's first read
        queues one WILLNEED over the whole sorted pool, so later blocks
        are read ahead while earlier ones are scored. Distances are
        ``operators/knn.py::_metric_dist``'s, row by row (COSINE: −cos,
        0 at a zero norm); ``pair_topk`` ranks them."""
        cand_qpos, cand_ids = _pool_pairs(qids, pool)
        if len(cand_ids) == 0:
            return spark.createDataFrame([], RESULT_SCHEMA)
        qmat = np.asarray(qmat, dtype=np.float64)
        self._random_access()
        rows = self.rows_of(cand_ids)
        by_row = np.argsort(rows, kind="stable")
        rows = rows[by_row]
        hinted = set()

        def read(name, r):
            col = self.column(name)
            if name not in hinted:
                hinted.add(name)
                _willneed_rows(self.path_of(name), rows, self.columns[name],
                               itemsize=col.dtype.itemsize)
            return col[r]

        if decode is None:
            def decode(r, read):
                return np.asarray(read("vec", r), dtype=np.float64)

        dist = np.empty(len(cand_ids), dtype=np.float64)
        for lo in range(0, len(rows), _REFINE_BLOCK):
            blk = by_row[lo : lo + _REFINE_BLOCK]
            mat = decode(rows[lo : lo + _REFINE_BLOCK], read)
            qv = qmat[cand_qpos[blk]]
            if metric == Metric.L2:
                diff = mat - qv
                dist[blk] = (diff * diff).sum(axis=1)
            elif metric == Metric.COSINE:
                norms = np.sqrt((qv * qv).sum(axis=1)) * np.sqrt((mat * mat).sum(axis=1))
                norms[norms == 0] = 1.0
                dist[blk] = -(mat * qv).sum(axis=1) / norms
            else:
                dist[blk] = -(mat * qv).sum(axis=1)
        return pair_topk(spark, qids, cand_qpos, cand_ids, dist, k)

    # -- the DataFrame view -----------------------------------------------

    def frame(self, spark, columns):
        """``(id, <columns>, list_no int)`` DataFrame, read by one task
        per contiguous run of lists (balanced by row count) that memmaps
        the store, as the scan does. Vectors come back as
        ``array<float>``, code columns as ``binary``."""
        import pyarrow as pa

        from auncel_spark.index.scan import _task_runs

        columns = list(columns)
        types = {c: "array<float>" if c == "vec" else "binary" for c in columns}
        schema = ", ".join(
            ["id bigint"] + [f"{c} {types[c]}" for c in columns] + ["list_no int"]
        )
        lists = np.flatnonzero(self.list_sizes())
        runs = _task_runs(self.offsets, lists, spark.sparkContext.defaultParallelism)
        if not runs:
            return spark.createDataFrame([], schema)
        store = self

        def read(batches):
            for batch in batches:
                for t in batch.column(0).to_numpy():
                    mine = runs[int(t)]
                    store.willneed(columns[0], mine)
                    lo, hi = int(store.offsets[mine[0]]), int(store.offsets[mine[-1] + 1])
                    list_no = np.repeat(
                        mine.astype(np.int32), store.list_sizes()[mine]
                    )
                    for r0 in range(lo, hi, _FRAME_BATCH):
                        r1 = min(hi, r0 + _FRAME_BATCH)
                        arrays = [pa.array(np.asarray(store.ids()[r0:r1]))]
                        arrays += [
                            to_arrow(store.column(c)[r0:r1], types[c]) for c in columns
                        ]
                        arrays.append(pa.array(list_no[r0 - lo : r1 - lo]))
                        yield pa.RecordBatch.from_arrays(
                            arrays, names=["id", *columns, "list_no"]
                        )

        return spark.range(len(runs), numPartitions=len(runs)).mapInArrow(read, schema)

    # -- columns added after the build ------------------------------------

    def add_column(self, name: str, blocks, params: dict) -> None:
        """Append a payload column in store row order from ``blocks``
        (an iterable of (rows, width) arrays), then record it and
        ``params`` in ``meta.json``. The column file is complete before
        the metadata names it."""
        fname, dtype = COLUMNS[name]
        tmp = os.path.join(self.dir, fname + ".tmp")
        width, rows = 0, 0
        with open(tmp, "wb") as f:
            for b in blocks:
                b = np.ascontiguousarray(b, dtype=dtype)
                width, rows = b.shape[1], rows + len(b)
                f.write(b.tobytes())
            f.flush()
            os.fsync(f.fileno())
        if rows != self.n:
            os.remove(tmp)
            raise ValueError(f"list store: column {name} has {rows} rows, store has {self.n}")
        os.replace(tmp, os.path.join(self.dir, fname))
        with open(os.path.join(self.dir, "meta.json")) as f:
            meta = json.load(f)
        meta["columns"][name] = width
        meta.setdefault("params", {}).update(params)
        _write_json(os.path.join(self.dir, "meta.json"), meta)
        self.columns[name] = width
        self.params.update(params)
        self._maps.pop(name, None)


def _write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


def append_lists(out: str, staging: str, nlist: int, columns, params: dict | None = None) -> dict:
    """Append every staged ``list_no=<l>`` partition under ``staging``
    to the store files in ``out``, in list order, and finish the store
    (offsets, id -> row map, ``meta.json``).

    Restartable: ``manifest.json`` records the lists done, their row
    offsets and the durable row count. A rerun truncates every file to
    that count and resumes after the last list done. Each list's rows
    are fsynced before the manifest acknowledges them. Driver-side by
    design: one sequential write stream, no shuffle."""
    import pyarrow.parquet as pq

    columns = list(columns)
    man_path = os.path.join(out, "manifest.json")
    man = {"done": 0, "rows": 0, "offsets": [0], "widths": {}}
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
    widths = man["widths"]
    names = ["id", *columns]
    files = {
        c: open(os.path.join(out, "ids.i64" if c == "id" else COLUMNS[c][0]), "ab")
        for c in names
    }
    # truncate to the manifest's durable state (a crash mid-append
    # leaves a partial tail the manifest does not acknowledge)
    for c, f in files.items():
        rb = 8 if c == "id" else widths.get(c, 0) * np.dtype(COLUMNS[c][1]).itemsize
        f.truncate(man["rows"] * rb)
    try:
        for ln in range(man["done"], nlist):
            ldir = os.path.join(staging, f"list_no={ln}")
            fnames = sorted(os.listdir(ldir)) if os.path.isdir(ldir) else []
            for fname in fnames:
                if not fname.endswith(".parquet"):
                    continue
                t = pq.read_table(os.path.join(ldir, fname), columns=names)
                if t.num_rows == 0:
                    continue
                ids = t.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
                files["id"].write(ids.tobytes())
                for c in columns:
                    rows = _rows_of_arrow(t.column(c), c)
                    if widths.setdefault(c, rows.shape[1]) != rows.shape[1]:
                        raise ValueError(f"list store: ragged column {c}")
                    files[c].write(np.ascontiguousarray(rows).tobytes())
                man["rows"] += len(ids)
            for f in files.values():
                f.flush()
                os.fsync(f.fileno())
            man["offsets"].append(man["rows"])
            man["done"] = ln + 1
            _write_json(man_path, man)
    finally:
        for f in files.values():
            f.close()
    n = man["rows"]
    ids_order = np.fromfile(os.path.join(out, "ids.i64"), dtype=np.int64)
    assert len(ids_order) == n, "list store: ids/rows mismatch"
    # a store addressed by id needs each id once: a repeated id would
    # shadow one of its rows and, in a 0..n-1 range, leave an absent id
    # mapped to another id's row
    dup = ValueError("list store: duplicate ids in the source lists")
    dense = bool(n > 0 and ids_order.min() == 0 and ids_order.max() == n - 1)
    if dense:
        perm = np.full(n, -1, dtype=np.int64)
        perm[ids_order] = np.arange(n, dtype=np.int64)
        if (perm < 0).any():  # n ids in 0..n-1 fill every slot iff unique
            raise dup
        np.save(os.path.join(out, "perm.npy"), perm)
    else:
        order = np.argsort(ids_order, kind="stable")
        ids_sorted = ids_order[order]
        if (ids_sorted[1:] == ids_sorted[:-1]).any():
            raise dup
        np.save(os.path.join(out, "ids_sorted.npy"), ids_sorted)
        np.save(os.path.join(out, "rows_sorted.npy"), order.astype(np.int64))
    np.asarray(man["offsets"], dtype=np.int64).tofile(os.path.join(out, "offsets.i64"))
    meta = {
        "n": n,
        "nlist": nlist,
        "dense": dense,
        "columns": {c: int(widths.get(c, 0)) for c in columns},
        "params": params or {},
    }
    _write_json(os.path.join(out, "meta.json"), meta)
    os.remove(man_path)
    return meta


def write_store(df, path: str, nlist: int, columns, params: dict | None = None,
                partitions: int | None = None, shuffle: bool = True) -> ListStore:
    """Write the ``(id, <columns>, list_no)`` frame ``df`` as the list
    store of the index at ``path``. The store is built in a fresh
    directory; only once it is complete are the previous index's files
    at ``path`` (``INDEX_FILES``) removed and the new store moved in.
    ``partitions``: shuffle partitions of the staging write (Spark's
    default when None); ``shuffle=False`` stages ``df`` as partitioned,
    for a frame whose tasks each already hold whole lists. Vectors are
    stored as float32."""
    from pyspark.sql import functions as F

    columns = list(columns)
    os.makedirs(path, exist_ok=True)
    new = os.path.join(path, "store.new")
    shutil.rmtree(new, ignore_errors=True)
    staging = os.path.join(new, "staging")
    src = df.select("id", *columns, F.col("list_no").cast("int").alias("list_no"))
    if shuffle:
        src = src.repartition(partitions, "list_no") if partitions else src.repartition("list_no")
    src.write.partitionBy("list_no").parquet(staging)
    append_lists(new, staging, nlist, columns, params)
    shutil.rmtree(staging)
    for name in INDEX_FILES:
        p = os.path.join(path, name)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    os.replace(new, os.path.join(path, "store"))
    return ListStore(path)


def temp_store(df, nlist: int, columns, **kw) -> ListStore:
    """``write_store`` into a driver-local temporary directory that is
    removed with the returned handle: the store of an index built in
    memory (``path=None``, or constructed from a DataFrame). Executors
    write the staging files there, so their writes must be visible to
    the driver — local mode or a shared filesystem."""
    tmp = tempfile.mkdtemp(prefix="auncel-store-")
    try:
        store = write_store(df, tmp, nlist, columns, **kw)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    weakref.finalize(store, shutil.rmtree, tmp, ignore_errors=True)
    return store


# the store of each DataFrame base a refine reads, kept while the base
# lives
_BASE_STORES = weakref.WeakKeyDictionary()


def store_of(base) -> ListStore:
    """The ``vec`` store an exact re-rank reads for ``base``: a
    ``ListStore`` itself, or the store written from an (id, vec)
    DataFrame on its first use and read by every later re-rank against
    the same DataFrame object, as Spark's ``cache()`` behaves. The
    writer takes one list per partition of the base with no shuffle, so
    the driver appends one staged file at a time and never holds the
    whole base.

    ``vec`` must be ``array<float>``: the store holds float32, so an
    ``array<double>`` base raises ``ValueError`` rather than re-rank
    silently rounded vectors (cast it to make the rounding explicit).
    The store is a float32 copy of the base in a driver-local temporary
    directory (``temp_store``), removed with the store: plan driver disk
    about the size of the base. On a cluster without a shared
    filesystem, pass a ``ListStore`` built on shared storage."""
    if isinstance(base, ListStore):
        return base
    store = _BASE_STORES.get(base)
    if store is None:
        from pyspark.sql import functions as F
        from pyspark.sql.types import ArrayType, FloatType

        vt = base.schema["vec"].dataType
        if not (isinstance(vt, ArrayType) and isinstance(vt.elementType, FloatType)):
            raise ValueError(
                "refine: a DataFrame base needs vec array<float> "
                f"(the refine store is float32), got {vt.simpleString()}"
            )
        store = temp_store(
            base.withColumn("list_no", F.spark_partition_id()),
            base.rdd.getNumPartitions(), ("vec",), shuffle=False,
        )
        _BASE_STORES[base] = store
    return store
