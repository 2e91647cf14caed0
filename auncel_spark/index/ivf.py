"""IVF (inverted-file) index: build, persist, fixed-nprobe search.

Reference surface (SURVEY.md §2.2 B2-B5, §2.3 O6-O7, O21, O31):
- ``IndexIVF`` (``Auncel/IndexIVF.h:77-99``): nlist posting lists keyed
  by a coarse quantizer; search probes the nprobe nearest lists
  (``IndexIVF.cpp:330-378`` → ``search_preassigned`` :382-475).
- ``OnDiskInvertedLists`` (``Auncel/OnDiskInvertedLists.h:51-110``):
  the at-scale storage — here Parquet ``partitionBy("list_no")`` so
  Catalyst partition pruning replaces mmap seeks + prefetch threads.

Physical plan of ``search``:
1. coarse quantize the (small) query set driver-side against broadcast
   centroids — the reference's ``quantizer->search`` (IndexIVF.cpp:364);
2. ``base.filter(list_no IN probed_lists)`` — static partition pruning:
   only the lists some query probes are read, the exact analogue of
   non-exhaustive list scanning. ``base`` is the list table opened once
   per index version, so the filter prunes against Spark's held file
   listing: no scan re-runs schema inference or partition discovery;
3. one pass over the pruned lists with the broadcast-queries GEMM
   kernel (index/scan.py): the query matrix and a per-query list→rank
   table ride in a broadcast, each base vector crosses Arrow once, and
   every task emits a partial top-k → global window top-k.

Vectors never reach the driver; centroids (nlist×d ≤ 8 MB) and the
query matrix are the only broadcast state, as the reference holds only
the quantizer + codebooks hot.
"""

from __future__ import annotations

import json
import os

import numpy as np

from auncel_spark.functions.vector import as_matrix
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auncel_spark.config import DEFAULT_NLIST, Metric
from auncel_spark.index.kmeans import (
    assign_lists,
    imbalance_factor,
    inter_centroid_matrix,
    train_kmeans,
)
from auncel_spark.operators.topk import topk_per_query


def preload_paths(roots: list[str], threads: int = 8) -> dict:
    """Synchronously read every parquet file under ``roots`` into the
    OS page cache, returning {files, gb, sec, mb_s}.

    Throughput levers (each measured to matter on virtio disks):
    - N reader threads keep the device queue non-empty (a single
      buffered reader stalls on every readahead window boundary);
    - POSIX_FADV_SEQUENTIAL doubles the kernel readahead window;
    - each thread queues POSIX_FADV_WILLNEED for its NEXT file while
      reading the current one, so the device never idles between files.

    The reference's analogue is the OnDiskInvertedLists prefetch worker
    pool (``Auncel/OnDiskInvertedLists.h:51-110``); on a multi-executor
    cluster this runs per node over node-local files."""
    import threading
    import time as _time

    files: list[str] = []
    for root in roots:
        for dirpath, _dirs, names in os.walk(root):
            files.extend(
                os.path.join(dirpath, f)
                for f in names
                # parquet lists, or sidecar payloads (refine blob)
                if f.endswith((".parquet", ".f32", ".npy"))
            )
    total = [0] * max(1, threads)
    t0 = _time.perf_counter()
    has_fadv = hasattr(os, "posix_fadvise")

    def work(ti: int):
        buf = bytearray(8 << 20)
        mv = memoryview(buf)
        mine = files[ti::threads]
        for j, fp in enumerate(mine):
            if has_fadv and j + 1 < len(mine):
                try:
                    nfd = os.open(mine[j + 1], os.O_RDONLY)
                    try:
                        os.posix_fadvise(nfd, 0, 0, os.POSIX_FADV_WILLNEED)
                    finally:
                        os.close(nfd)
                except OSError:
                    pass
            try:
                with open(fp, "rb", buffering=0) as f:
                    if has_fadv:
                        try:
                            os.posix_fadvise(
                                f.fileno(), 0, 0, os.POSIX_FADV_SEQUENTIAL
                            )
                        except OSError:
                            pass
                    while True:
                        nb = f.readinto(mv)
                        if not nb:
                            break
                        total[ti] += nb
            except OSError:
                continue

    ts = [threading.Thread(target=work, args=(i,)) for i in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    sec = _time.perf_counter() - t0
    return {
        "files": len(files),
        "gb": round(sum(total) / 1e9, 2),
        "sec": round(sec, 2),
        "mb_s": round(sum(total) / 1e6 / max(sec, 1e-9), 1),
    }


class IVFIndex:
    """A trained IVF index = broadcastable quantizer state + a
    list-partitioned Parquet table of (id, vec, list_no)."""

    def __init__(
        self,
        spark: SparkSession,
        centroids: np.ndarray,
        data_path: str | None,
        metric: Metric = Metric.L2,
        data_df: DataFrame | None = None,
    ):
        self.spark = spark
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.nlist = self.centroids.shape[0]
        self.d = self.centroids.shape[1]
        self.metric = metric
        self.data_path = data_path
        # the exact (id, vec, list_no) view: given in memory, or opened
        # from ``data_path`` on first use and held for this version of
        # the files (``_reopen`` drops it when they change)
        self._data_df = data_df
        self._codes_df: DataFrame | None = None  # held lists_sq8 table
        # optional orthonormal pre-rotation (OPQ): queries are rotated
        # into code space before coarse-rank/scan; subclasses set it
        self.rotation: np.ndarray | None = None
        # Auncel delta: inter-centroid geometry for the ELP system (B3)
        # — lazy: nlist² float64 (134 MB at nlist=4096) that only the
        # error-profile paths touch; split-list PQ indexes never do
        self._interdis: np.ndarray | None = None
        # optional graph coarse quantizer (faiss "IVF{n}_HNSW{M}")
        self._hnsw_q = None
        self._hnsw_ef = None
        # one readahead pass per index per process (see prefetch())
        self._prefetch_done = False
        # measured streaming rate chosen by the self-calibrating
        # prefetch pacer (MB/s), for bench telemetry
        self.prefetch_rate_mbs: float | None = None
        # coded scan replica (SQ8 lists) + exact-refine sidecar: the
        # at-scale layout — scan bandwidth paid on 1-byte codes, final
        # top-k re-ranked exactly against the id-addressable blob
        self._replica_sq = None  # ScalarQuantizer when lists_sq8 exists
        self._use_replica = False
        self._blob = None  # RefineBlob handle (lazy)

    @property
    def interdis(self) -> np.ndarray:
        if self._interdis is None:
            self._interdis = inter_centroid_matrix(self.centroids, self.metric)
        return self._interdis

    def use_hnsw_quantizer(self, M: int = 32, ef_construction: int = 80,
                           ef_search: int | None = None, seed: int = 7) -> "IVFIndex":
        """Swap brute-force centroid ranking for a graph search over
        the centroid set — the faiss ``IVF{nlist}_HNSW{M}`` coarse
        quantizer (``faiss/index_factory.cpp`` grammar). Pointless at
        nlist=1024 (one BLAS GEMM beats it) but the 100 TB posture has
        nlist ~ sqrt(n) ~ 1M, where exact ranking is O(nq·nlist·d) per
        batch and the graph is O(nq·ef·log nlist). Approximate: probe
        lists may differ from exact ranking; use generous ef (or the
        ELP path, which self-corrects via its recall predictor)."""
        from auncel_spark.index.hnsw import HNSWGraph

        self._hnsw_q = HNSWGraph(M, ef_construction, seed).build_arrays(
            np.arange(self.nlist, dtype=np.int64), self.centroids
        )
        self._hnsw_ef = ef_search
        return self

    # --- construction ----------------------------------------------------

    @classmethod
    def build(
        cls,
        base: DataFrame,
        nlist: int = DEFAULT_NLIST,
        metric: Metric = Metric.L2,
        path: str | None = None,
        centroids: np.ndarray | None = None,
        kmeans_iter: int = 25,
        seed: int = 42,
        id_col: str = "id",
        vec_col: str = "vec",
    ) -> "IVFIndex":
        """Train (or accept) centroids, assign every row, and persist
        partitioned by list_no. ``centroids=None`` trains k-means on the
        base (the reference trains on a subsample; ``train_kmeans``
        samples internally)."""
        spark = base.sparkSession
        b = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        if centroids is None:
            centroids, _ = train_kmeans(
                b, nlist, metric=metric, max_iter=kmeans_iter, seed=seed,
                spherical=(metric == Metric.IP),
            )
        idx = cls(spark, centroids, path, metric)
        assigned = assign_lists(b, idx.centroids, metric).select("id", "vec", "list_no")
        if path is not None:
            (
                assigned.repartition("list_no")
                .write.mode("overwrite")
                .partitionBy("list_no")
                .parquet(os.path.join(path, "lists"))
            )
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump(
                    {"nlist": idx.nlist, "d": idx.d, "metric": metric.value}, f
                )
            np.save(os.path.join(path, "centroids.npy"), idx.centroids)
            idx._data_df = None
        else:
            idx._data_df = assigned.cache()
            idx._data_df.count()
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        """``read_index`` analogue (Auncel/index_io.h:37-54). Detects a
        coded scan replica (``lists_sq8/``): when the uncompressed
        ``lists/`` are absent — the disk-neutral swap keeps only codes
        + the refine sidecar — the replica becomes the scan source
        automatically; with both present the flat lists stay default
        and ``use_replica(True)`` opts the replica in."""
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        centroids = np.load(os.path.join(path, "centroids.npy"))
        idx = cls(spark, centroids, path, Metric(meta["metric"]))
        sq_meta = os.path.join(path, "sq_replica.json")
        if os.path.exists(sq_meta):
            from auncel_spark.index.sq import ScalarQuantizer

            with open(sq_meta) as f:
                idx._replica_sq = ScalarQuantizer.from_dict(json.load(f))
            flat_present = os.path.isdir(os.path.join(path, "lists"))
            # ADVICE r09 (medium): a delete_source sidecar swap that
            # crashed mid-build leaves a PARTIAL flat lists/ dir
            # (partitions are deleted incrementally as they land in the
            # blob) with refine/manifest.json recording progress but no
            # refine/meta.json yet. Serving exact scans from those
            # remnants silently drops the already-swapped lists from
            # every result — refuse and point at the resumable build.
            man_path = os.path.join(path, "refine", "manifest.json")
            blob_done = os.path.exists(
                os.path.join(path, "refine", "meta.json")
            )
            if flat_present and not blob_done and os.path.exists(man_path):
                with open(man_path) as f:
                    man = json.load(f)
                if man.get("done"):
                    raise RuntimeError(
                        f"{path}: interrupted refine-sidecar swap — "
                        f"{len(man['done'])} list partitions already "
                        "moved into the blob, flat lists/ is partial. "
                        "Resume with IVFIndex.build_refine_sidecar("
                        "delete_source=True) (the manifest makes the "
                        "build restartable); do not scan the remnant."
                    )
            idx._use_replica = not flat_present
        return idx

    @property
    def data(self) -> DataFrame:
        """Exact (id, vec, list_no). Prefers the uncompressed lists;
        after the replica swap the exact view is reassembled from the
        coded lists' (id, list_no) + positioned reads into the refine
        blob — correct but pread-shaped, so hot paths should use
        ``scan_source()`` (codes) + ``refine_blob`` instead. Opened once
        per index version: every later call returns the same frame,
        whose file listing Spark keeps."""
        if self._data_df is None:
            flat = os.path.join(self.data_path, "lists")
            self._data_df = (
                self.spark.read.parquet(flat)
                if os.path.isdir(flat)
                else self._data_from_blob()
            )
        return self._data_df

    def _codes(self) -> DataFrame:
        """The SQ8 replica table ``lists_sq8/``, opened once per index
        version like ``data``."""
        if self._codes_df is None:
            self._codes_df = self.spark.read.parquet(
                os.path.join(self.data_path, "lists_sq8")
            )
        return self._codes_df

    def _reopen(self) -> None:
        """Drop the held list tables after the files under ``data_path``
        or the active scan source changed; the next access re-lists
        them. An in-memory index has nothing on disk to re-list."""
        if self.data_path is not None:
            self._data_df = None
            self._codes_df = None

    def _data_from_blob(self) -> DataFrame:
        from typing import Iterator as _It

        blob = self.refine_blob
        if blob is None:
            raise FileNotFoundError(
                f"{self.data_path}: no lists/ and no refine sidecar"
            )
        coded = self._codes().select("id", "list_no")
        bdir, n, d = blob.dir, blob.n, blob.d

        def fetch(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
            from auncel_spark.index.refine_blob import RefineBlob

            b = RefineBlob(os.path.dirname(bdir))
            for pdf in batches:
                if pdf.empty:
                    continue
                vec = b.gather(pdf["id"].to_numpy(dtype=np.int64))
                yield pd.DataFrame(
                    {
                        "id": pdf["id"].to_numpy(dtype=np.int64),
                        "vec": list(vec),
                        "list_no": pdf["list_no"].to_numpy(dtype=np.int64),
                    }
                )

        return coded.mapInPandas(
            fetch, schema="id bigint, vec array<float>, list_no bigint"
        )

    # --- coded scan replica + exact-refine sidecar ------------------------

    @property
    def refine_blob(self):
        if self._blob is None and self.data_path is not None:
            from auncel_spark.index.refine_blob import RefineBlob

            if RefineBlob.exists(self.data_path):
                self._blob = RefineBlob(self.data_path)
        return self._blob

    @property
    def codec_active(self) -> bool:
        """True when scans read SQ8 codes (``scan_source`` would return
        a codec)."""
        return self._use_replica and self._replica_sq is not None

    def scan_source(self):
        """(DataFrame, codec) for the list scan kernels. codec is None
        for uncompressed fp32 lists; for the SQ8 replica it is the
        (offset, scale) float64 pair the kernel folds into its batch
        decode (mat = codes·scale + offset — IndexScalarQuantizer's
        Codec8bit, one fused multiply-add per element, against 4x less
        scan IO and memory traffic than fp32)."""
        if self._use_replica and self._replica_sq is not None:
            sq = self._replica_sq
            levels = 255.0
            scale = np.asarray(sq.vdiff, dtype=np.float64) / levels
            off = np.asarray(sq.vmin, dtype=np.float64) + 0.5 * scale
            return self._codes(), (off, scale)
        return self.data, None

    def build_scan_replica(self) -> dict:
        """Write the SQ8-coded scan replica ``lists_sq8/`` (same
        list_no partitioning as the flat lists — partition pruning is
        unchanged). The codec range is the FULL-corpus per-dimension
        min/max (one vectorized Arrow partial-agg pass — not a sample:
        a sampled range clips out-of-range values and a clipped code
        decodes to a wrong distance, which the exact-refine stage can
        only fix for candidates it still sees). One distributed encode
        pass; 1 byte/dim vs 4."""
        import time as _time

        from typing import Iterator as _It

        import pyarrow as pa

        from auncel_spark.index.sq import ScalarQuantizer

        t0 = _time.time()
        base = self.data
        d = self.d

        def minmax(batches: _It[pa.RecordBatch]) -> _It[pa.RecordBatch]:
            lo = np.full(d, np.inf)
            hi = np.full(d, -np.inf)
            seen = False
            for b in batches:
                if b.num_rows == 0:
                    continue
                flat = b.column(0).flatten().to_numpy(zero_copy_only=False)
                m = np.asarray(flat, dtype=np.float64).reshape(b.num_rows, d)
                np.minimum(lo, m.min(axis=0), out=lo)
                np.maximum(hi, m.max(axis=0), out=hi)
                seen = True
            if seen:
                yield pa.RecordBatch.from_pydict(
                    {"lo": lo, "hi": hi, "dim": np.arange(d, dtype=np.int32)}
                )

        parts = (
            base.select("vec")
            .mapInArrow(minmax, schema="lo double, hi double, dim int")
            .groupBy("dim")
            .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
            .collect()
        )
        lo = np.empty(d)
        hi = np.empty(d)
        for r in parts:
            lo[r["dim"]] = r["lo"]
            hi[r["dim"]] = r["hi"]
        diff = hi - lo
        diff[diff == 0] = 1.0
        sq = ScalarQuantizer(lo, diff, "8bit")
        coded = sq.encode(base, vec_col="vec", code_col="code").select(
            "id", "code", "list_no"
        )
        out_dir = os.path.join(self.data_path, "lists_sq8")
        # NO repartition: the source lists are already partitioned by
        # list_no on disk, so every input split carries whole lists and
        # partitionBy routes rows without an exchange. The repartition
        # this used to do shuffled the entire coded corpus (~12 GB of
        # shuffle files at 100M) for zero placement benefit — and that
        # transient is exactly what filled the disk on the first 100M
        # replica build (ENOSPC at 94 GB usable with 42 GB flat lists
        # still on disk).
        (
            coded.write.mode("overwrite")
            .partitionBy("list_no")
            .parquet(out_dir)
        )
        with open(os.path.join(self.data_path, "sq_replica.json"), "w") as f:
            json.dump(sq.to_dict(), f)
        self._replica_sq = sq
        self._reopen()
        return {"sec": round(_time.time() - t0, 1), "dir": out_dir}

    def build_refine_sidecar(self, delete_source: bool = False) -> dict:
        """Build the id-addressable exact-refine blob from the flat
        lists (see index/refine_blob.py). ``delete_source=True`` is the
        disk-neutral swap: each list partition is removed once its rows
        are durably in the blob — afterwards the index serves scans
        from SQ8 codes and exactness from positioned reads."""
        from auncel_spark.index.refine_blob import build_refine_blob

        try:
            stats = build_refine_blob(
                self.data_path,
                os.path.join(self.data_path, "lists"),
                self.d,
                delete_source=delete_source,
            )
        finally:
            # a swap deletes list partitions as it goes, even when it
            # fails part-way: the held listing names files now gone
            if delete_source:
                self._reopen()
        self._blob = None
        if delete_source:
            import shutil

            flat = os.path.join(self.data_path, "lists")
            if os.path.isdir(flat):
                shutil.rmtree(flat)
            if self._replica_sq is not None:
                self._use_replica = True
        return stats

    def use_replica(self, on: bool = True) -> "IVFIndex":
        if on and self._replica_sq is None:
            raise RuntimeError("no scan replica built (build_scan_replica)")
        self._use_replica = on
        self._prefetch_done = False  # scan source changed
        self._reopen()
        return self

    def prefetch(self, lists=None) -> None:
        """Async page-cache readahead (POSIX_FADV_WILLNEED) for the
        probed lists' parquet files, issued from a daemon thread at
        search start. A disk-resident index otherwise serializes IO
        stalls into the scan (r05 measured cold-cache 41 vs 27 ms/q
        warm at 100M — ≈ the raw 37 GB read, unoverlapped); the stage
        plan knows its probe set up front, so hinting the kernel lets
        sequential readahead run at device bandwidth WHILE the early
        stages compute. No-op when pages are already cached, when the
        index is unpersisted, or on platforms without fadvise. On a
        multi-node cluster this hint belongs executor-side next to the
        scan task (node-local page caches); single-JVM local mode —
        this bench — benefits directly from the driver.

        ONE pass per index per process: r06 issued this walk on EVERY
        search call, and on a ~220 MB/s device a re-queued 37 GB
        readahead steals the whole IO budget from the timed runs that
        follow (the r06 100M warm k10_b1 regression, 26.6 → 37 ms —
        VERDICT r06 Wrong #2). Pages either land in cache on the first
        pass or the pass is still running; re-queuing never helps.
        Call ``reset_prefetch()`` after a deliberate cache drop."""
        if self.data_path is None or not hasattr(os, "posix_fadvise"):
            return
        if self._prefetch_done:
            return
        self._prefetch_done = True
        # the walk targets the ACTIVE scan source: after the replica
        # swap that is lists_sq8 — 4x less cold IO by construction (the
        # r08 lesson: no pacing discipline makes a 38 GB readahead
        # stream reliably; a 10 GB one is a different problem)
        sub = "lists_sq8" if self._use_replica else "lists"
        root = os.path.join(self.data_path, sub)
        targets = list(lists) if lists is not None else None
        # PACED issuance (r08, measured at 100M cold): queueing the
        # whole index's WILLNEED at once lets the kernel drop most of
        # the readahead under pressure (r07: 130 MB/s effective, the
        # 82 ms/q cold tail), and a competing physical reader thread
        # halves bandwidth (74 ms/q); plain demand paging from 32
        # parquet streams reaches 154 MB/s (50 ms/q). Hinting ~2 s of
        # IO ahead of a pace clock keeps the readahead queue one step
        # ahead of consumption. r08's FIXED 200 MB/s clock did not
        # reproduce inside the committed cold grid (recorded 78.8 MB/s
        # effective, k10_b1 72.9 ms — VERDICT r08 Wrong #1), so the
        # pacer now SELF-CALIBRATES: it times one physical read of the
        # first file and paces at that measured rate; the chosen rate is
        # recorded in ``prefetch_rate_mbs`` so every cold record can
        # state the clock it ran under.
        import time as _time

        def _measure_rate(fp: str) -> float:
            """Physical streaming rate of one file (MB/s)."""
            try:
                sz = os.path.getsize(fp)
                buf = bytearray(8 << 20)
                mv = memoryview(buf)
                t0 = _time.perf_counter()
                with open(fp, "rb", buffering=0) as f:
                    try:
                        os.posix_fadvise(
                            f.fileno(), 0, 0, os.POSIX_FADV_SEQUENTIAL
                        )
                    except OSError:
                        pass
                    while f.readinto(mv):
                        pass
                dt = max(_time.perf_counter() - t0, 1e-6)
                return max(40.0, min(2000.0, sz / 1e6 / dt))
            except OSError:
                return 200.0

        def _run():
            try:
                dirs = (
                    [os.path.join(root, f"list_no={int(ln)}") for ln in targets]
                    if targets is not None
                    else sorted(
                        os.path.join(root, d)
                        for d in os.listdir(root)
                        if d.startswith("list_no=")
                    )
                )
                files = []
                for d in dirs:
                    if not os.path.isdir(d):
                        continue
                    files.extend(
                        os.path.join(d, f)
                        for f in os.listdir(d)
                        if f.endswith(".parquet")
                    )
                if not files:
                    return
                rate = _measure_rate(files[0]) * 1e6
                self.prefetch_rate_mbs = round(rate / 1e6, 1)
                t0 = _time.perf_counter()
                issued = 0
                for fp in files:
                    while (
                        issued - rate * (_time.perf_counter() - t0)
                        > 2 * rate
                    ):
                        _time.sleep(0.05)
                    try:
                        fd = os.open(fp, os.O_RDONLY)
                    except OSError:
                        continue
                    try:
                        os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_WILLNEED)
                        issued += os.fstat(fd).st_size
                    finally:
                        os.close(fd)
            except Exception:
                pass  # readahead is best-effort by definition

        import threading

        threading.Thread(target=_run, daemon=True, name="ivf-prefetch").start()

    def reset_prefetch(self) -> None:
        """Re-arm the once-per-process readahead pass (call after a
        deliberate page-cache drop, e.g. the cold-cache bench grid)."""
        self._prefetch_done = False

    def preload(self, threads: int = 8) -> dict:
        """SYNCHRONOUS page-cache load of the persisted lists — the
        cold-start plan for a batch engine: one sequential pass at
        device bandwidth, then the scan runs at memory speed. The
        async ``prefetch`` hint loses to demand paging when 32 scan
        tasks issue competing positioned reads (r07 measured: 37 GB of
        cold-scan stall at ~130 MB/s effective ≈ 285 s, vs the same
        device's ~180 MB/s on a 4-thread sequential pass — random
        read interleave COSTS bandwidth, it doesn't hide latency). On
        a multi-executor cluster this is the per-node sequential load
        of node-local list files. Returns {files, gb, sec, mb_s};
        no-op dict when the index is unpersisted."""
        if self.data_path is None:
            return {"files": 0, "gb": 0.0, "sec": 0.0, "mb_s": 0.0}
        roots = [
            os.path.join(
                self.data_path, "lists_sq8" if self._use_replica else "lists"
            )
        ]
        if self._use_replica and self.refine_blob is not None:
            roots.append(self.refine_blob.dir)
        stats = preload_paths(roots, threads=threads)
        # pages are in: the per-search fadvise walk would only re-queue
        # already-cached pages
        self._prefetch_done = True
        return stats

    # --- coarse quantization (O6) ---------------------------------------

    def coarse_rank(self, qids: np.ndarray, qmat: np.ndarray, nprobe: int):
        """Top-nprobe nearest centroids per query (driver-side numpy —
        the query set × centroid table is small, exactly the state the
        reference touches in ``quantizer->search``).

        Returns (ranked_lists (nq, nprobe) int32, cdist (nq, nprobe))."""
        if self._hnsw_q is not None and self.metric == Metric.L2:
            nprobe = min(nprobe, self.nlist)
            ef = max(self._hnsw_ef or 0, 2 * nprobe, 32)
            q = np.asarray(qmat, dtype=np.float64)
            order = np.empty((len(q), nprobe), dtype=np.int32)
            cdist = np.empty((len(q), nprobe), dtype=np.float64)
            for i in range(len(q)):
                best = self._hnsw_q.search_one(q[i], nprobe, ef)
                # graph may return < nprobe on tiny/disconnected sets;
                # pad with the last hit (duplicate probes are harmless)
                while len(best) < nprobe:
                    best.append(best[-1])
                cdist[i] = [b[0] for b in best]
                order[i] = [b[1] for b in best]
            return order, cdist
        q = np.asarray(qmat, dtype=np.float64)
        c = self.centroids
        dots = q @ c.T
        if self.metric == Metric.L2:
            dist = (q * q).sum(1)[:, None] + (c * c).sum(1)[None, :] - 2.0 * dots
        else:
            dist = -dots
        nprobe = min(nprobe, self.nlist)
        order = np.argsort(dist, axis=1, kind="stable")[:, :nprobe]
        return order.astype(np.int32), np.take_along_axis(dist, order, axis=1)

    # --- search (O7) -----------------------------------------------------

    def _scanner(self):
        """(lists frame, codec) that ``search`` hands to ``scan_ranked``:
        ``scan_source()`` here; a coded index returns its code lists and
        their scanner (index/scan.py)."""
        return self.scan_source()

    @staticmethod
    def _query_arrays(queries, qid_col: str = "qid", vec_col: str = "vec"):
        """(qids int64, qmat float64) of a query DataFrame, collected in
        one job; an already-collected (qids, qmat) pair passes through."""
        if not isinstance(queries, DataFrame):
            return queries
        qpdf = queries.select(
            F.col(qid_col).alias("qid"), F.col(vec_col).alias("vec")
        ).toPandas()
        return qpdf["qid"].to_numpy(dtype=np.int64), as_matrix(qpdf["vec"])

    def search(
        self,
        queries,
        k: int,
        nprobe: int,
        qid_col: str = "qid",
        vec_col: str = "vec",
    ) -> DataFrame:
        """Fixed-nprobe IVF search. Returns (qid, pos, id, dist).

        One pass over the pruned lists with the ranked-list kernel
        (index/scan.py), scored by this index's scanner (``_scanner``)
        — each base vector or code crosses Arrow once no matter how
        many queries probe its list. ``queries`` is a DataFrame, or the
        (qids, qmat) arrays a caller already collected from one: a
        caller that needs the query vectors itself (``search_refine``)
        so collects them once, not twice."""
        from auncel_spark.index.scan import scan_ranked

        qids, qmat = self._query_arrays(queries, qid_col, vec_col)
        # width from the index: zero cells decode to shape (0,)
        rot = self.rotation
        qmat = qmat.reshape(-1, self.d if rot is None else rot.shape[1])
        if rot is not None:
            qmat = qmat @ rot.T  # into code space
        ranked, _ = self.coarse_rank(qids, qmat, nprobe)
        self.prefetch(np.unique(ranked[:, :nprobe]))
        sdf, codec = self._scanner()
        blob = self.refine_blob if self.codec_active else None
        # refine-pool headroom (shared constant with ErrorProfile —
        # rank slips under SQ8 span more positions as the corpus
        # densifies; ADVICE r09: one retune point, not two)
        from auncel_spark.index.refine_blob import REFINE_PAD

        kk = k + REFINE_PAD if blob is not None else k
        partial = scan_ranked(
            sdf, qids, qmat, ranked, [0, nprobe], kk, self.metric,
            self.nlist, codec=codec,
        )
        if blob is not None:
            # coded scan: exact re-rank of the padded pool against
            # the refine sidecar (see ErrorProfile._refined_result)
            pool = topk_per_query(partial, kk).select("qid", "id").toPandas()
            qpos = {int(x): i for i, x in enumerate(qids)}
            return blob.refine_topk(
                self.spark,
                qids,
                qmat,
                pool["qid"].map(qpos).to_numpy(dtype=np.int32),
                pool["id"].to_numpy(dtype=np.int64),
                k,
                self.metric,
            )
        return topk_per_query(partial, k).select("qid", "pos", "id", "dist")

    def search_with_stats(
        self, queries: DataFrame, k: int, nprobe: int
    ) -> tuple[DataFrame, dict]:
        """O31 ``IndexIVFStats`` parity (IndexIVF.h:361-374): run
        ``search`` eagerly and report nq, nprobe, posting lists touched,
        distances computed and wall times for the quantization and scan
        phases. ndis is Σ over (query, probed list) of the list's row
        count — every probed row is scored against every query probing
        its list — taken from one aggregation over the probed lists of
        the scan source (exact and retry-safe, unlike an accumulator
        bumped inside a transformation; after a swap ``data`` would
        gather every probed vector from the refine blob just to count
        rows)."""
        import time as _time

        qpdf = queries.select("qid", "vec").toPandas()
        qmat = as_matrix(qpdf["vec"])
        if self.rotation is not None:
            qmat = qmat @ self.rotation.T
        t0 = _time.perf_counter()
        ranked, _ = self.coarse_rank(
            qpdf["qid"].to_numpy(dtype=np.int64), qmat, nprobe
        )
        t_quant = _time.perf_counter() - t0
        t1 = _time.perf_counter()
        res = self.search(queries, k, nprobe).cache()
        res.count()
        t_search = _time.perf_counter() - t1
        probed, probes = np.unique(ranked, return_counts=True)
        sizes = {
            int(r["list_no"]): int(r["count"])
            for r in self._scanner()[0]
            .filter(F.col("list_no").isin(probed.tolist()))
            .groupBy("list_no")
            .count()
            .collect()
        }
        ndis = sum(sizes.get(int(ln), 0) * int(c) for ln, c in zip(probed, probes))
        return res, {
            "nq": int(len(qpdf)),
            "nprobe": int(nprobe),
            "nlists_scanned": len(probed),
            "ndis": int(ndis),
            "quantization_time_s": round(t_quant, 4),
            "search_time_s": round(t_search, 4),
        }

    # --- maintenance / introspection (O21, O31) --------------------------

    def list_sizes(self) -> DataFrame:
        return self.data.groupBy("list_no").count()

    def imbalance(self) -> float:
        return imbalance_factor(self.data, self.nlist)

    def remove_ids(self, ids_df: DataFrame) -> DataFrame:
        """``remove_ids`` via IDSelector (O18) = anti-join."""
        return self.data.join(ids_df.select("id"), "id", "left_anti")

    def stats(self) -> dict:
        sizes = self.list_sizes().collect()
        n = sum(r["count"] for r in sizes)
        return {
            "nlist": self.nlist,
            "d": self.d,
            "ntotal": n,
            "nonempty_lists": len(sizes),
            "imbalance_factor": self.imbalance(),
        }
