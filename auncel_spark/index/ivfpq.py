"""IVF-PQ: inverted lists storing PQ codes, ADC scanning.

Reference (SURVEY.md §2.3 O8-O9): ``IndexIVFPQ``
(``Auncel/IndexIVFPQ.h:34-130``, .cpp 1552 LoC): per-query M×ksub
distance tables over (optionally residual) codes, gather-sum ADC, with
``IndexIVFPQR``/``IndexRefineFlat`` re-ranking on top.

Storage: the ``code`` column of the index's list store (index/
list_store.py) — codes are M bytes instead of 4·d, cutting scan bytes
~32× at d=64/M=8 (SURVEY §7.3: what makes 100 TB realistic). Residual mode
(``by_residual``, the reference default) encodes r = x − centroid(list)
and builds one LUT per (query, probed list); plain mode builds one LUT
per query.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auncel_spark.config import DEFAULT_NLIST, Metric
from auncel_spark.functions.vector import as_matrix, map_rows
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.index.kmeans import assign_lists, train_kmeans
from auncel_spark.index.list_store import store_of, write_store
from auncel_spark.index.pq import ProductQuantizer, train_codebook


class IVFPQIndex(IVFIndex):
    columns = ("code",)

    def __init__(
        self,
        spark: SparkSession,
        centroids: np.ndarray,
        pq: ProductQuantizer,
        data_path: str | None,
        metric: Metric = Metric.L2,
        by_residual: bool = True,
        data_df: DataFrame | None = None,
        use_precomputed_table: bool = True,
        rotation: np.ndarray | None = None,
        enc_of: np.ndarray | None = None,
        enc_centroids: np.ndarray | None = None,
    ):
        super().__init__(spark, centroids, data_path, metric, data_df)
        self.pq = pq
        self.by_residual = by_residual
        self.use_precomputed_table = use_precomputed_table
        self._term2: np.ndarray | None = None
        # refined (split-list) quantizer support: ``centroids`` are the
        # fine PROBING cells (nlist = parents · split), while codes stay
        # residual-encoded against the PARENT centroid — enc_of maps a
        # fine list to its parent's row in enc_centroids, keeping every
        # encoding-side table (term2, residual LUT base) parent-sized.
        # Built by ``split_ivfpq_lists``; None on ordinary indexes.
        self.enc_of = (
            np.asarray(enc_of, dtype=np.int32) if enc_of is not None else None
        )
        self.enc_centroids = (
            np.asarray(enc_centroids, dtype=np.float64)
            if enc_centroids is not None
            else None
        )
        # OPQ pre-rotation (faiss "OPQ{M},IVF{n},PQ{M}" idiom,
        # Auncel/AutoTune.cpp:741-949 factory strings): centroids here
        # are stored ROTATED, codes encode rotated residuals, and
        # queries rotate on entry. Exact refine stays rotation-free —
        # the rotation is orthonormal, so |Rq − Rx| = |q − x|.
        self.rotation = (
            np.asarray(rotation, dtype=np.float64) if rotation is not None else None
        )

    def precomputed_term2(self) -> np.ndarray:
        """``use_precomputed_table`` (IndexIVFPQ.h:48-59): for residual
        L2 ADC, |q − c − z|² = |q − c|² (term1, one scalar per probe)
        + (|z|² + 2·c·z) (term2 — THIS table, query-independent,
        (nlist, M, ksub)) + (−2·q·z) (term3, ONE per-query LUT). The
        round-1 kernel rebuilt the full residual LUT per (query, probed
        list) — M·ksub·dsub multiplies per pair; with the table it is a
        M·ksub add. At nlist=1024, M=8, ksub=256 the table is 16 MB —
        broadcast beside the codebooks."""
        if self._term2 is None:
            cb = self.pq.codebooks  # (M, ksub, dsub)
            znorm = (cb * cb).sum(-1)  # (M, ksub)
            # encoding centroids: the parent table under a split-list
            # quantizer (term2 is a property of the ENCODING cell, so
            # it stays parent-sized — nlist_fine/split rows)
            csrc = (
                self.enc_centroids if self.enc_centroids is not None else self.centroids
            )
            csub = csrc.reshape(csrc.shape[0], self.pq.M, self.pq.dsub)
            self._term2 = znorm[None, :, :] + 2.0 * np.einsum(
                "lmd,mkd->lmk", csub, cb
            )
        return self._term2

    @classmethod
    def build(
        cls,
        base: DataFrame,
        nlist: int = DEFAULT_NLIST,
        M: int = 8,
        nbits: int = 8,
        metric: Metric = Metric.L2,
        path: str | None = None,
        centroids: np.ndarray | None = None,
        by_residual: bool = True,
        kmeans_iter: int = 25,
        seed: int = 42,
        id_col: str = "id",
        vec_col: str = "vec",
        pq: ProductQuantizer | None = None,
        opq: bool = False,
        assigned: DataFrame | None = None,
        encode_gemm: bool = False,
        rotation: np.ndarray | None = None,
    ) -> "IVFPQIndex":
        """``pq``: pre-built codebooks skip sampled-k-means training —
        used for seeded deterministic codebooks that a SQL oracle can
        replay (the seed-IVF trick applied to PQ). With ``opq=True`` a
        caller-supplied ``pq`` MUST have been trained on ROTATED
        residuals (pair it with the matching ``rotation=``) — codes are
        rotated-residual encodings (ADVICE r06: an unrotated-trained pq
        here silently degrades code quality).

        ``rotation``: a pre-trained OPQ rotation (d×d orthonormal);
        skips the in-build ``OPQTransform.train`` — the sample-train
        path for big corpora where the full-residual training passes
        are the dominant cost.

        ``opq``: train an OPQ rotation on the RESIDUALS and encode
        rotated residuals (requires by_residual + L2). Assignment is
        rotation-invariant — R(x−c) = Rx − Rc — so the inverted lists
        are identical to the unrotated build; only code quality
        changes. The stored centroids are rotated so every query-side
        term (coarse rank, term1/term2, LUTs) lives in code space.

        ``assigned``: a pre-assigned (id, vec, list_no) frame — e.g. a
        built IVF-Flat index's ``idx.data`` — skips the full-corpus
        nearest-centroid pass (the dominant build flop at 100M:
        ~2·10¹⁶ for nlist=1024·d96) and guarantees the compressed
        lists match the flat index's row for row, the "re-encode an
        existing index's lists" maintenance op. ``centroids`` is
        required and must be the quantizer that produced the
        assignment."""
        spark = base.sparkSession
        if assigned is not None:
            if centroids is None:
                raise ValueError("assigned= requires the matching centroids")
            centroids = np.asarray(centroids, dtype=np.float64)
            if "list_no" not in assigned.columns:
                raise ValueError("assigned= frame must carry a list_no column")
            # cheap misuse guard (ADVICE r05): a quantizer mismatch
            # otherwise produces residuals against the WRONG centroids
            # (silent quality loss) or an IndexError deep in
            # _residual_df, far from the misuse site. One metadata-ish
            # aggregate over the assignment column is negligible next
            # to the encode pass it precedes.
            mx = assigned.agg(F.max("list_no"), F.min("list_no")).first()
            if mx[0] is not None and (mx[0] >= len(centroids) or mx[1] < 0):
                raise ValueError(
                    f"assigned list_no range [{mx[1]}, {mx[0]}] incompatible "
                    f"with nlist={len(centroids)} quantizer"
                )
            assigned = assigned.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("vec"),
                F.col("list_no").cast("int").alias("list_no"),
            )
        else:
            b = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
            if centroids is None:
                centroids, _ = train_kmeans(
                    b, nlist, metric=metric, max_iter=kmeans_iter, seed=seed,
                    spherical=(metric == Metric.IP),
                )
            centroids = np.asarray(centroids, dtype=np.float64)
            assigned = assign_lists(b, centroids, metric)

        if opq:
            if not by_residual or metric != Metric.L2:
                raise ValueError("opq=True requires by_residual L2")
            from auncel_spark.index.transforms import OPQTransform

            res = _residual_df(assigned, centroids)
            if rotation is not None:
                rot = OPQTransform(np.asarray(rotation, dtype=np.float64))
            else:
                rot = OPQTransform.train(res, M=M, vec_col="rvec", seed=seed)
            rotation = rot.A
            res = rot.apply(res, vec_col="rvec")
            if pq is None:
                pq = ProductQuantizer.train(res, M=M, nbits=nbits, vec_col="rvec", seed=seed)
            coded = pq.encode(res, vec_col="rvec", gemm=encode_gemm)
            centroids = centroids @ rotation.T
        else:
            if rotation is not None:
                raise ValueError("rotation= only applies with opq=True")
            # measured guidance (VERDICT r08 Next #6): at d=960 the OPQ
            # rotation is a decisive recall win at the identical
            # operating point (recall@10 0.5006 vs 0.144 plain —
            # evidence/hd_highd_opq_rungs.json); at d=96 it is a tie
            # (evidence/10m_opq_rungs.json). The default stays explicit
            # (faiss posture: OPQ is a factory-spec opt-in) but a plain
            # high-d build now SAYS so instead of silently shipping the
            # measured-worse codes.
            if by_residual and metric == Metric.L2 and centroids.shape[1] >= 256:
                import warnings

                warnings.warn(
                    f"IVFPQ at d={centroids.shape[1]} without OPQ: the"
                    " measured high-d rung (evidence/"
                    "hd_highd_opq_rungs.json, d=960) shows OPQ-rotated"
                    " codes reach ~3.5x the recall of plain PQ at the"
                    " same operating point; consider opq=True or an"
                    " 'OPQ{M},IVF...' factory spec",
                    stacklevel=2,
                )
            # train PQ on (residual) vectors, then encode distributed
            if pq is None:
                if by_residual:
                    train_src = _residual_df(assigned, centroids)
                else:
                    train_src = assigned
                pq = ProductQuantizer.train(train_src, M=M, nbits=nbits, vec_col="vec" if not by_residual else "rvec", seed=seed)
            if by_residual:
                coded = pq.encode(
                    _residual_df(assigned, centroids), vec_col="rvec",
                    gemm=encode_gemm,
                )
            else:
                coded = pq.encode(assigned, gemm=encode_gemm)

        idx = cls(spark, centroids, pq, path, metric, by_residual, rotation=rotation)
        idx._write_lists(coded, path)
        if path is not None:
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump(
                    {
                        "kind": "ivfpq",
                        "nlist": idx.nlist,
                        "d": idx.d,
                        "metric": metric.value,
                        "by_residual": by_residual,
                        "pq": pq.to_dict(),
                    },
                    f,
                )
            np.save(os.path.join(path, "centroids.npy"), centroids)
            if rotation is not None:
                np.save(os.path.join(path, "rotation.npy"), rotation)
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFPQIndex":
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        centroids = np.load(os.path.join(path, "centroids.npy"))
        rot_path = os.path.join(path, "rotation.npy")
        rotation = np.load(rot_path) if os.path.exists(rot_path) else None
        enc_path = os.path.join(path, "enc_of.npy")
        enc_of = np.load(enc_path) if os.path.exists(enc_path) else None
        enc_centroids = (
            np.load(os.path.join(path, "enc_centroids.npy"))
            if enc_of is not None
            else None
        )
        return cls(
            spark,
            centroids,
            ProductQuantizer.from_dict(meta["pq"]),
            path,
            Metric(meta["metric"]),
            meta["by_residual"],
            rotation=rotation,
            enc_of=enc_of,
            enc_centroids=enc_centroids,
        )

    def _scanner(self):
        """The store and its ADC scanner: term3 LUTs are built lazily
        in-task, term2 rides in broadcast (index/scan.py)."""
        from auncel_spark.index.scan import PQScanner

        use_t2 = (
            self.use_precomputed_table
            and self.by_residual
            and self.metric == Metric.L2
        )
        cents = self.enc_centroids if self.enc_centroids is not None else self.centroids
        return self.store, PQScanner(
            self.pq.codebooks,
            cents=cents if self.by_residual else None,
            term2=self.precomputed_term2() if use_t2 else None,
            enc_of=self.enc_of,
            # float32 ADC arithmetic (the reference engine's dtype —
            # Faiss computes ADC in float32): ~2x scan throughput.
            # Default False so hash-exact SQL-oracle replays (float64
            # in DuckDB) keep bit-matched boundary ordering; the scale
            # bench enables it via `idx.adc_fp32 = True`.
            fp32=getattr(self, "adc_fp32", False),
        )

    def search_refine(
        self,
        queries: DataFrame,
        full_base,
        k: int,
        nprobe: int,
        k_factor: int = 4,
    ) -> DataFrame:
        """IVFPQR / IndexRefineFlat (O9): ADC candidates k·k_factor,
        exact re-rank against the uncompressed vectors.

        The queries cross to the driver once, and so do the nq·k·k_factor
        candidate pairs (driver-bounded by construction). The re-rank
        reads each candidate's vector by id from a ``ListStore``'s
        ``vec`` column (``ListStore.refine_topk``: positioned reads and
        a numpy kernel, no Spark job), as the reference's
        ``IndexRefineFlat`` reads its own id-addressed store and never
        scans the corpus. ``full_base`` is a ``ListStore`` with a
        ``vec`` column (e.g. an IVF-Flat index's ``store``) or an (id,
        vec) DataFrame with unique ids and ``vec`` ``array<float>``: its
        first re-rank (on any index) writes it into a store that every
        later call with the same object reads (``list_store.store_of``,
        which also states what such a base costs)."""
        qids, qmat = self._query_arrays(queries)
        cand = self.search((qids, qmat), k * k_factor, nprobe)
        return store_of(full_base).refine_topk(self.spark, qids, qmat, cand, k, self.metric)


class IVFPQRIndex(IVFPQIndex):
    """IndexIVFPQR (``Auncel/IndexIVFPQ.h:155-200``): a second product
    quantizer encodes the residual-of-residual r₂ = x − c(list) − z₁,
    and re-ranking reconstructs x̂ = c + z₁ + z₂ from CODES ONLY — the
    refine never touches raw vectors (unlike IndexRefineFlat), which is
    what matters when the uncompressed corpus is too big to scan.
    Storage: the store carries ``code`` and ``rcode`` columns; rcode adds
    refine_M bytes/row (the reference defaults refine_M = 2·M)."""

    columns = ("code", "rcode")

    def __init__(self, *args, refine_pq: ProductQuantizer | None = None, **kw):
        super().__init__(*args, **kw)
        self.refine_pq = refine_pq

    @classmethod
    def build(
        cls,
        base: DataFrame,
        nlist: int = DEFAULT_NLIST,
        M: int = 8,
        refine_M: int | None = None,
        nbits: int = 8,
        metric: Metric = Metric.L2,
        path: str | None = None,
        centroids: np.ndarray | None = None,
        kmeans_iter: int = 25,
        seed: int = 42,
        id_col: str = "id",
        vec_col: str = "vec",
        pq: ProductQuantizer | None = None,
        refine_pq: ProductQuantizer | None = None,
    ) -> "IVFPQRIndex":
        spark = base.sparkSession
        b = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        if centroids is None:
            centroids, _ = train_kmeans(
                b, nlist, metric=metric, max_iter=kmeans_iter, seed=seed,
                spherical=(metric == Metric.IP),
            )
        centroids = np.asarray(centroids, dtype=np.float64)
        refine_M = refine_M or 2 * M
        assigned = _residual_df(assign_lists(b, centroids, metric), centroids)
        if pq is None:
            pq = ProductQuantizer.train(assigned, M=M, nbits=nbits, vec_col="rvec", seed=seed)
        coded = pq.encode(assigned, vec_col="rvec")
        # r2 = rvec − decode(code): the second-level residual
        r2 = _residual2_df(coded, pq)
        rpq = refine_pq or ProductQuantizer.train(r2, M=refine_M, nbits=nbits, vec_col="r2", seed=seed + 1)
        full = rpq.encode(r2, vec_col="r2", code_col="rcode")
        idx = cls(
            spark, centroids, pq, path, metric, True, refine_pq=rpq
        )
        idx._write_lists(full, path)
        if path is not None:
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump(
                    {
                        "kind": "ivfpqr",
                        "nlist": idx.nlist,
                        "d": idx.d,
                        "metric": metric.value,
                        "by_residual": True,
                        "pq": pq.to_dict(),
                        "refine_pq": rpq.to_dict(),
                    },
                    f,
                )
            np.save(os.path.join(path, "centroids.npy"), centroids)
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFPQRIndex":
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        centroids = np.load(os.path.join(path, "centroids.npy"))
        return cls(
            spark,
            centroids,
            ProductQuantizer.from_dict(meta["pq"]),
            path,
            Metric(meta["metric"]),
            True,
            refine_pq=ProductQuantizer.from_dict(meta["refine_pq"]),
        )

    def search(self, queries, k, nprobe, qid_col="qid", vec_col="vec", k_factor: int = 4):
        """ADC over the first-level codes for k·k_factor candidates,
        then codes-only re-rank through the second-level residual
        (IndexIVFPQR::search_preassigned two-pass shape)."""
        return self._search_ranked(
            *self._rank_queries(queries, nprobe, qid_col, vec_col), k, nprobe, k_factor
        )

    def _search_ranked(self, qids, qmat, ranked, k, nprobe, k_factor: int = 4):
        """``search`` after the coarse ranking."""
        cand = super()._search_ranked(qids, qmat, ranked, k * k_factor, nprobe)
        return self.refine_by_codes((qids, qmat), cand, k)

    def refine_by_codes(self, queries, cand: DataFrame, k: int) -> DataFrame:
        """Exact-in-reconstruction distances |q − (c + z₁ + z₂)|² for
        the (qid, id) candidate pairs, through the vector refine's
        ``ListStore.refine_topk`` with the reconstruction as its decode;
        no raw vectors are read. ``queries``: a (qid, vec) DataFrame or
        collected (qids, qmat) arrays. A driver-side kernel: the
        candidates' ``code``/``rcode`` rows are read by position through
        the store's id → row map, no Spark job."""
        qids, qmat = self._query_arrays(queries)
        store = self.store

        def decode(rows, read):
            return (
                self.centroids[store.list_of_rows(rows)]
                + self.pq.decode_np(read("code", rows))
                + self.refine_pq.decode_np(read("rcode", rows))
            )

        return store.refine_topk(self.spark, qids, qmat, cand, k, self.metric, decode=decode)


def _residual2_df(coded: DataFrame, pq: ProductQuantizer) -> DataFrame:
    """r2 = rvec − decode(code), Arrow-batched."""
    return map_rows(
        coded, lambda pq, rv, codes: rv - pq.decode_np(codes),
        ["rvec", "code"], [("r2", "array<float>")], state=pq,
    )


def split_ivfpq_lists(
    flat_idx: IVFIndex,
    pq_idx: IVFPQIndex,
    split: int,
    path: str,
    sample_per_list: int = 256,
    kmeans_iter: int = 8,
    seed: int = 7,
    write_partitions: int = 256,
) -> IVFPQIndex:
    """Refine the coarse quantizer nlist → nlist·split WITHOUT touching
    a single code byte: per-parent sub-centroids are trained on a
    sampled slice of the flat lists, every row is re-routed to its
    nearest CHILD of its own parent (a ``split``-way argmin — ~10⁴×
    cheaper than the full n·nlist·d re-assignment GEMM), and the
    existing PQ codes are re-partitioned by the refined list id. Codes
    remain residual-encoded against the PARENT centroid, so ADC math is
    unchanged (``enc_of`` maps fine → parent; term2 stays parent-sized)
    and the refined index's codes are byte-identical to the input's.

    Why: posting lists must scale with the corpus. The reference's
    distributed answer is one IVF1024 PER 10M-row shard
    (``Auncel/dist/worker.cpp:83``) — lists ∝ n. A single index whose
    nlist is pinned while n grows 10× scans 10× more rows per probe
    (r06 measured 100M/nlist=1024: ~1.6M coded rows/query at
    nprobe=16). Splitting each list 4–16× restores nlist ~ √n without
    re-encoding, re-training the PQ, or rebuilding the 37 GB flat
    index: probe fraction drops ~split× at matched recall targets.

    ``pq_idx`` must be a residual, non-rotated IVFPQ built on
    ``flat_idx``'s assignment (the standard ``build(assigned=)`` path).
    """
    if pq_idx.rotation is not None or not pq_idx.by_residual:
        raise ValueError("split_ivfpq_lists requires a residual, non-OPQ IVFPQ")
    if pq_idx.enc_of is not None:
        raise ValueError("index is already split — split from the parent index")
    if not np.array_equal(
        np.asarray(flat_idx.centroids, dtype=np.float64),
        np.asarray(pq_idx.centroids, dtype=np.float64),
    ):
        raise ValueError("flat and PQ quantizers differ — codes would not match")
    spark = flat_idx.spark
    nlist, d = flat_idx.nlist, flat_idx.d
    parents = np.asarray(flat_idx.centroids, dtype=np.float64)

    # 1) per-parent sub-centroids from one sampled pass over the flat
    #    lists (the quantizer-train slice, Clustering.cpp practice)
    n = flat_idx.data.count()
    frac = min(1.0, 1.5 * sample_per_list * nlist / max(1, n))
    samp = (
        flat_idx.data.select("vec", "list_no")
        .sample(fraction=frac, seed=seed)
        .toPandas()
    )
    children = np.empty((nlist, split, d))
    lns = samp["list_no"].to_numpy()
    for p in range(nlist):
        rows = np.where(lns == p)[0]
        if len(rows) >= split:
            x = as_matrix(samp["vec"].iloc[rows])
            children[p] = train_codebook(x, split, kmeans_iter, seed + p)
        else:
            # empty/thin parent: children collapse onto the parent cell
            # (deterministic jitter keeps argmin well-defined)
            rng = np.random.default_rng(seed + p)
            children[p] = parents[p][None, :] + rng.normal(0, 1e-6, (split, d))

    # 2) route every row to its nearest child WITHIN its parent (one
    #    light pass over the flat lists: the per-row work is a
    #    split-way argmin, and the emitted frame is (id, rlist) — the
    #    same ~12 bytes/row exchange shape as ensure_index_big)
    def route(ch, ids, mat, lns_b):
        rl = np.empty(len(ids), dtype=np.int32)
        for ln in np.unique(lns_b):
            m = lns_b == ln
            c = ch[int(ln)]
            dd = (c * c).sum(axis=1)[None, :] - 2.0 * (mat[m] @ c.T)
            rl[m] = int(ln) * split + dd.argmin(axis=1).astype(np.int32)
        return ids, rl

    routed = map_rows(
        flat_idx.data, route, ["id", "vec", "list_no"],
        [("id", "bigint"), ("rlist", "int")], keep=[], state=children,
    )
    # 3) re-key the codes by the refined list id (codes unchanged) into
    #    the new index's store
    coded = (
        pq_idx.data.select("id", "code")
        .join(routed, "id")
        .select("id", "code", F.col("rlist").alias("list_no"))
    )
    write_store(coded, path, nlist * split, IVFPQIndex.columns, partitions=write_partitions)
    child_flat = children.reshape(nlist * split, d)
    enc_of = np.repeat(np.arange(nlist, dtype=np.int32), split)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(
            {
                "kind": "ivfpq",
                "nlist": nlist * split,
                "d": d,
                "metric": pq_idx.metric.value,
                "by_residual": True,
                "split": split,
                "parent_nlist": nlist,
                "pq": pq_idx.pq.to_dict(),
            },
            f,
        )
    np.save(os.path.join(path, "centroids.npy"), child_flat)
    np.save(os.path.join(path, "enc_of.npy"), enc_of)
    np.save(os.path.join(path, "enc_centroids.npy"), parents)
    return IVFPQIndex.load(spark, path)


def _residual_df(assigned: DataFrame, centroids: np.ndarray) -> DataFrame:
    """rvec = vec − centroid[list_no], Arrow-batched."""
    return map_rows(
        assigned, lambda cents, mat, lns: mat - cents[lns], ["vec", "list_no"],
        [("rvec", "array<float>")], state=np.asarray(centroids, dtype=np.float64),
    )
