"""IVF (inverted-file) index: build, persist, fixed-nprobe search.

Reference surface (SURVEY.md §2.2 B2-B5, §2.3 O6-O7, O21, O31):
- ``IndexIVF`` (``Auncel/IndexIVF.h:77-99``): nlist posting lists keyed
  by a coarse quantizer; search probes the nprobe nearest lists
  (``IndexIVF.cpp:330-378`` → ``search_preassigned`` :382-475).
- ``OnDiskInvertedLists`` (``Auncel/OnDiskInvertedLists.h:51-110``):
  the at-scale storage — here the index's list store
  (index/list_store.py): one list-ordered file per column, list l the
  contiguous row range ``[offsets[l], offsets[l+1])``. Every build
  writes it, in memory (``path=None``) into a temporary directory.

Physical plan of ``search``:
1. coarse quantize the (small) query set driver-side against the
   centroids — the reference's ``quantizer->search`` (IndexIVF.cpp:364);
2. one ``scan_ranked`` job (index/scan.py) over the probed lists only:
   each task memmaps a contiguous run of them from the store, and the
   query matrix and a per-query list→rank table ride in a broadcast,
   so each stored row is read once however many queries probe its
   list — the exact analogue of non-exhaustive list scanning;
3. every task emits a partial top-k → global window top-k. Under the
   SQ8 scan replica the padded pool is then re-ranked exactly against
   the store's ``vec`` column on the driver.

Vectors never reach the driver except the refine pool's rows; centroids
(nlist×d ≤ 8 MB) and the query matrix are the only broadcast state, as
the reference holds only the quantizer + codebooks hot.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from auncel_spark.functions.vector import as_matrix
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auncel_spark.config import DEFAULT_NLIST, Metric
from auncel_spark.index.kmeans import (
    assign_lists,
    inter_centroid_matrix,
    train_kmeans,
)
from auncel_spark.index.list_store import (
    REFINE_PAD,
    ListStore,
    temp_store,
    write_store,
)
from auncel_spark.operators.topk import topk_per_query


class IVFIndex:
    """A trained IVF index = broadcastable quantizer state + a list
    store of (id, vec) rows in list order."""

    # the store columns this index's lists hold (``data``'s payload)
    columns = ("vec",)

    def __init__(
        self,
        spark: SparkSession,
        centroids: np.ndarray,
        data_path: str | None,
        metric: Metric = Metric.L2,
        data_df: DataFrame | None = None,
    ):
        """``data_path``: an index directory whose ``store/`` holds the
        lists. ``data_df``: an ``(id, <columns>, list_no)`` frame whose
        rows become the lists, written into a temporary store."""
        self.spark = spark
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.nlist = self.centroids.shape[0]
        self.d = self.centroids.shape[1]
        self.metric = metric
        self.data_path = data_path
        self._store = None
        if data_df is not None:
            self._write_lists(data_df, None)
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

    def _write_lists(self, lists: DataFrame, path: str | None) -> None:
        """Make ``lists`` — ``(id, <columns>, list_no)`` — this index's
        store: at ``path``, replacing any index there, or in memory."""
        if path is None:
            self._store = temp_store(lists, self.nlist, self.columns)
        else:
            self._store = write_store(lists, path, self.nlist, self.columns)

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
        """Train (or accept) centroids, assign every row, and write the
        list store. ``centroids=None`` trains k-means on the base (the
        reference trains on a subsample; ``train_kmeans`` samples
        internally)."""
        spark = base.sparkSession
        b = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        if centroids is None:
            centroids, _ = train_kmeans(
                b, nlist, metric=metric, max_iter=kmeans_iter, seed=seed,
                spherical=(metric == Metric.IP),
            )
        idx = cls(spark, centroids, path, metric)
        idx._write_lists(assign_lists(b, idx.centroids, metric), path)
        if path is not None:
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump(
                    {"nlist": idx.nlist, "d": idx.d, "metric": metric.value}, f
                )
            np.save(os.path.join(path, "centroids.npy"), idx.centroids)
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        """``read_index`` analogue (Auncel/index_io.h:37-54). A store
        with an SQ8 replica column scans codes (see
        ``build_scan_replica``)."""
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        centroids = np.load(os.path.join(path, "centroids.npy"))
        return cls(spark, centroids, path, Metric(meta["metric"]))

    @property
    def store(self) -> ListStore:
        """The list store, opened from ``data_path`` on first use."""
        if self._store is None:
            self._store = ListStore(self.data_path)
        return self._store

    @property
    def data(self) -> DataFrame:
        """``(id, <columns>, list_no int)`` view of the lists, read from
        the store by the scan's per-task reader (no file listing)."""
        return self.store.frame(self.spark, self.columns)

    # --- SQ8 scan replica -------------------------------------------------

    @property
    def codec_active(self) -> bool:
        """True when scans read the store's SQ8 replica codes and the
        padded pool is re-ranked exactly against its ``vec`` column."""
        return "sq8" in self.store.params

    def build_scan_replica(self) -> dict:
        """Add the SQ8 scan replica: a ``code`` column of 1 byte/dim in
        store row order, plus its codec range. The range is the
        FULL-corpus per-dimension min/max, not a sample: a sampled range
        clips out-of-range values and a clipped code decodes to a wrong
        distance, which the exact refine can only fix for candidates it
        still sees. From then on this index (and every later ``load``)
        scans codes and re-ranks its padded pool exactly against ``vec``;
        building the replica is the opt-in. Two sequential driver passes
        over the ``vec`` column (range, then encode)."""
        import time as _time

        from auncel_spark.index.sq import ScalarQuantizer

        t0 = _time.time()
        store = self.store
        vec = store.column("vec")
        step = 1 << 16
        lo = np.full(self.d, np.inf)
        hi = np.full(self.d, -np.inf)
        for r in range(0, store.n, step):
            m = np.asarray(vec[r : r + step], dtype=np.float64)
            np.minimum(lo, m.min(axis=0), out=lo)
            np.maximum(hi, m.max(axis=0), out=hi)
        diff = hi - lo
        diff[diff == 0] = 1.0
        sq = ScalarQuantizer(lo, diff, "8bit")
        store.add_column(
            "code",
            (sq.encode_np(vec[r : r + step]) for r in range(0, store.n, step)),
            {"sq8": sq.to_dict()},
        )
        return {"sec": round(_time.time() - t0, 1), "dir": store.dir}

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
        """(store, scanner) that ``search`` hands to ``scan_ranked``:
        fp32 ``vec`` rows, or the SQ8 replica's codes once it is built;
        a coded index returns its code scanner (index/scan.py)."""
        from auncel_spark.index.scan import FlatScanner, SQ8Scanner

        store = self.store
        if not self.codec_active:
            return store, FlatScanner()
        # mat = codes·scale + offset — IndexScalarQuantizer's Codec8bit,
        # one fused multiply-add per element
        sq = store.params["sq8"]
        scale = np.asarray(sq["vdiff"], dtype=np.float64) / 255.0
        off = np.asarray(sq["vmin"], dtype=np.float64) + 0.5 * scale
        return store, SQ8Scanner(off, scale)

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

    def _code_space(self, qmat: np.ndarray) -> np.ndarray:
        """The query matrix in the space the lists are coded in: shaped
        to the index's width (zero cells decode to shape (0,)) and
        rotated when the index has a pre-rotation."""
        rot = self.rotation
        qmat = qmat.reshape(-1, self.d if rot is None else rot.shape[1])
        return qmat if rot is None else qmat @ rot.T

    def search(
        self,
        queries,
        k: int,
        nprobe: int,
        qid_col: str = "qid",
        vec_col: str = "vec",
    ) -> DataFrame:
        """Fixed-nprobe IVF search. Returns (qid, pos, id, dist).

        One pass over the probed lists with the ranked-list kernel
        (index/scan.py), scored by this index's scanner (``_scanner``)
        — each stored vector or code is read once no matter how many
        queries probe its list. ``queries`` is a DataFrame, or the
        (qids, qmat) arrays a caller already collected from one: a
        caller that needs the query vectors itself (``search_refine``)
        so collects them once, not twice."""
        return self._search_ranked(
            *self._rank_queries(queries, nprobe, qid_col, vec_col), k, nprobe
        )

    def _rank_queries(self, queries, nprobe: int, qid_col: str = "qid", vec_col: str = "vec"):
        """(qids, qmat in code space, ranked lists): one collect, one coarse ranking."""
        qids, qmat = self._query_arrays(queries, qid_col, vec_col)
        qmat = self._code_space(qmat)
        return qids, qmat, self.coarse_rank(qids, qmat, nprobe)[0]

    def _search_ranked(self, qids, qmat, ranked, k: int, nprobe: int) -> DataFrame:
        """``search`` after the coarse ranking: scan the ``nprobe``
        lists each query ranks first. Under the SQ8 replica the padded
        pool is re-ranked exactly against the store's ``vec`` column
        (``ListStore.refine_topk``)."""
        from auncel_spark.index.scan import scan_ranked

        store, scanner = self._scanner()
        refine = self.codec_active
        kk = k + REFINE_PAD if refine else k
        partial = scan_ranked(
            store, qids, qmat, ranked, [0, nprobe], kk, self.metric,
            self.nlist, codec=scanner,
        )
        if refine:
            return store.refine_topk(
                self.spark, qids, qmat, topk_per_query(partial, kk), k, self.metric
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
        its list — read from the store's offsets, with no Spark job. The
        queries are collected and coarse-ranked once."""
        import time as _time

        qids, qmat = self._query_arrays(queries)
        qmat = self._code_space(qmat)
        t0 = _time.perf_counter()
        ranked, _ = self.coarse_rank(qids, qmat, nprobe)
        t_quant = _time.perf_counter() - t0
        t1 = _time.perf_counter()
        res = self._search_ranked(qids, qmat, ranked, k, nprobe).cache()
        res.count()
        t_search = _time.perf_counter() - t1
        probed, probes = np.unique(ranked, return_counts=True)
        ndis = int((self.store.list_sizes()[probed] * probes).sum())
        return res, {
            "nq": int(len(qids)),
            "nprobe": int(nprobe),
            "nlists_scanned": len(probed),
            "ndis": ndis,
            "quantization_time_s": round(t_quant, 4),
            "search_time_s": round(t_search, 4),
        }

    # --- maintenance / introspection (O21, O31) --------------------------

    def list_sizes(self) -> DataFrame:
        """(list_no, count) of the non-empty lists, from the store's
        offsets: no Spark job."""
        sizes = self.store.list_sizes()
        nz = np.flatnonzero(sizes)
        return self.spark.createDataFrame(
            pd.DataFrame({"list_no": nz.astype(np.int32), "count": sizes[nz]}),
            "list_no int, count bigint",
        )

    def imbalance(self) -> float:
        """Reference ``imbalance_factor`` (utils.h:98-101): n·Σsᵢ² /
        (Σsᵢ)² ≥ 1, =1 when balanced; from the store's offsets."""
        s = self.store.list_sizes().astype(np.float64)
        tot = s.sum()
        return float(self.nlist * (s * s).sum() / (tot * tot)) if tot else 0.0

    def remove_ids(self, ids_df: DataFrame) -> DataFrame:
        """``remove_ids`` via IDSelector (O18) = anti-join."""
        return self.data.join(ids_df.select("id"), "id", "left_anti")

    def stats(self) -> dict:
        sizes = self.store.list_sizes()
        return {
            "nlist": self.nlist,
            "d": self.d,
            "ntotal": int(sizes.sum()),
            "nonempty_lists": int(np.count_nonzero(sizes)),
            "imbalance_factor": self.imbalance(),
        }
