"""Index factory: parse Faiss-style spec strings into engine pipelines.

Reference (SURVEY.md §2.3 O30): ``index_factory(d, desc, metric)``
(``Auncel/AutoTune.cpp:741-949``). The grammar kept for familiarity:

    spec      := [transform ","]* index ["," refine]
    transform := "PCA{n}" | "PCAW{n}" | "OPQ{M}" | "RR{n}" | "L2norm"
    sq        := "SQ8" | "SQ6" | "SQ4" | "SQfp16"
    index     := "Flat" | sq | "PQ{M}"
              | "IVF{nlist},Flat" | "IVF{nlist}," sq | "IVF{nlist},PQ{M}"
    refine    := "RFlat"            (IndexRefineFlat re-rank)
    prefix    := "IDMap,"           (explicit id mapping — ids are
                                     always explicit in this engine,
                                     accepted as a no-op)

Examples from the reference's own workloads: "IVF1024,Flat"
(eval/bound.cpp:220), "PCA64,IVF1024,PQ8", "IVF256,SQ8".

``build_index(base_df, spec, metric, path)`` returns a SearchIndex
whose ``search(queries, k, nprobe)`` runs the right physical plan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.config import Metric
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.index.ivfpq import IVFPQIndex
from auncel_spark.index.pq import ProductQuantizer, pq_knn
from auncel_spark.index.sq import ScalarQuantizer
from auncel_spark.index.transforms import (
    NormalizationTransform,
    OPQTransform,
    PCATransform,
    RandomRotation,
    TransformChain,
    VectorTransform,
)
from auncel_spark.index.list_store import store_of
from auncel_spark.operators.knn import knn_exact


@dataclass
class ParsedSpec:
    transforms: list[str] = field(default_factory=list)
    index_type: str = "flat"  # flat | sq8 | pq | ivfflat | ivfsq | ivfpq
    nlist: int = 0
    pq_m: int = 0
    refine_m: int = 0  # IVFPQR second-level codes (PQ{M}+{M2})
    coarse_hnsw_m: int = 0  # IVF{n}_HNSW{M} graph coarse quantizer
    sq_type: str = "8bit"  # 8bit | 6bit | 4bit | fp16
    refine: bool = False
    idmap: bool = False


_SQ_SPECS = {"SQ8": "8bit", "SQ6": "6bit", "SQ4": "4bit", "SQfp16": "fp16"}


def parse_spec(spec: str) -> ParsedSpec:
    parts = [p.strip() for p in spec.split(",") if p.strip()]
    out = ParsedSpec()
    i = 0
    while i < len(parts):
        p = parts[i]
        if p == "IDMap":
            out.idmap = True
        elif re.fullmatch(r"(PCAW?\d+|OPQ\d+|RR\d+|L2norm)", p):
            out.transforms.append(p)
        elif m := re.fullmatch(r"IVF(\d+)(?:_HNSW(\d+))?", p):
            out.nlist = int(m.group(1))
            out.coarse_hnsw_m = int(m.group(2) or 0)
            i += 1
            if i >= len(parts):
                raise ValueError(f"IVF needs a storage clause in {spec!r}")
            st = parts[i]
            if st == "Flat":
                out.index_type = "ivfflat"
            elif st in _SQ_SPECS:
                out.index_type = "ivfsq"
                out.sq_type = _SQ_SPECS[st]
            elif m2 := re.fullmatch(r"PQ(\d+)\+(\d+)", st):
                # IVFPQR: second-level residual refine codes (faiss
                # "IVF{n},PQ{M}+{M2}" grammar, IndexIVFPQ.h:155)
                out.index_type = "ivfpqr"
                out.pq_m = int(m2.group(1))
                out.refine_m = int(m2.group(2))
            elif m2 := re.fullmatch(r"PQ(\d+)", st):
                out.index_type = "ivfpq"
                out.pq_m = int(m2.group(1))
            else:
                raise ValueError(f"unknown IVF storage {st!r}")
        elif p == "Flat":
            out.index_type = "flat"
        elif p in _SQ_SPECS:
            out.index_type = "sq8"
            out.sq_type = _SQ_SPECS[p]
        elif m := re.fullmatch(r"PQ(\d+)", p):
            out.index_type = "pq"
            out.pq_m = int(m.group(1))
        elif p == "RFlat":
            out.refine = True
        else:
            raise ValueError(f"cannot parse {p!r} in spec {spec!r}")
        i += 1
    return out


class SearchIndex:
    """A built pipeline: optional transform chain + physical index
    (+ optional exact refine against the original vectors)."""

    def __init__(
        self,
        spec: ParsedSpec,
        metric: Metric,
        base: DataFrame,
        chain: TransformChain | None,
        ivf: IVFIndex | None,
        pq: ProductQuantizer | None,
        sq: ScalarQuantizer | None,
        coded: DataFrame | None,
    ):
        self.spec = spec
        self.metric = metric
        self.base = base
        self.chain = chain
        self.ivf = ivf
        self.pq = pq
        self.sq = sq
        self.coded = coded

    def _xform_queries(self, queries: DataFrame) -> DataFrame:
        if self.chain is None:
            return queries
        return self.chain.apply(queries, vec_col="vec")

    def search(self, queries: DataFrame, k: int, nprobe: int = 8) -> DataFrame:
        q = self._xform_queries(queries)
        t = self.spec.index_type
        refine = self.spec.refine
        k_eff = k * 4 if refine else k
        # under RFlat the queries are collected once: an IVF search and
        # the re-rank share them
        qarr = IVFIndex._query_arrays(q) if refine else q
        if t == "flat":
            res = knn_exact(q, self.tbase, k_eff, self.metric)
        elif t == "sq8":
            dec = self.sq.decode(self.coded).select(
                "id", F.col("vec_dec").alias("vec")
            )
            res = knn_exact(q, dec, k_eff, self.metric)
        elif t == "pq":
            res = pq_knn(q, self.coded, self.pq, k_eff, self.metric)
        elif t in ("ivfflat", "ivfsq", "ivfpq", "ivfpqr"):
            res = self.ivf.search(qarr, k_eff, nprobe)
        else:
            raise AssertionError(t)
        if refine:
            # refine in TRANSFORMED space (faiss keeps the refine Flat
            # storage inside IndexPreTransform): q is already
            # transformed, so re-rank against tbase's store — the raw
            # base would compare vectors of different dimension after
            # PCA, or silently wrong distances after OPQ/RR.
            return store_of(self.tbase).refine_topk(
                q.sparkSession, *qarr, res, k, self.metric
            )
        return res

    @property
    def tbase(self) -> DataFrame:
        return self._tbase

    @tbase.setter
    def tbase(self, v: DataFrame) -> None:
        self._tbase = v

    # --- persistence (S4: write_index/read_index for composites) -------

    def save(self, path: str, spec_str: str) -> None:
        """Persist the full pipeline: spec + transform chain + codec
        state + data tables. IVF-backed variants copy their list store;
        flat/coded variants write the (id, vec/code) table."""
        import json
        import os
        import shutil

        import numpy as np

        os.makedirs(path, exist_ok=True)
        meta = {
            "spec": spec_str,
            "metric": self.metric.value,
            "chain": self.chain.to_dict() if self.chain else None,
            "pq": self.pq.to_dict() if self.pq else None,
            "sq": self.sq.to_dict() if self.sq else None,
            "index_type": self.spec.index_type,
            "refine_pq": (
                self.ivf.refine_pq.to_dict()
                if getattr(self.ivf, "refine_pq", None) is not None
                else None
            ),
        }
        with open(os.path.join(path, "pipeline.json"), "w") as f:
            json.dump(meta, f)
        if self.ivf is not None:
            np.save(os.path.join(path, "centroids.npy"), self.ivf.centroids)
            dst = os.path.join(path, "store")
            if os.path.realpath(self.ivf.store.dir) != os.path.realpath(dst):
                shutil.rmtree(dst, ignore_errors=True)
                shutil.copytree(self.ivf.store.dir, dst)
        if self.coded is not None:
            self.coded.write.mode("overwrite").parquet(os.path.join(path, "coded"))
        self.base.write.mode("overwrite").parquet(os.path.join(path, "base"))
        if self.chain is not None:
            self.tbase.write.mode("overwrite").parquet(os.path.join(path, "tbase"))

    @classmethod
    def load(cls, spark, path: str) -> "SearchIndex":
        import json
        import os

        import numpy as np

        from auncel_spark.index.transforms import TransformChain, transform_from_dict

        with open(os.path.join(path, "pipeline.json")) as f:
            meta = json.load(f)
        parsed = parse_spec(meta["spec"])
        metric = Metric(meta["metric"])
        base = spark.read.parquet(os.path.join(path, "base"))
        chain = None
        if meta["chain"]:
            t = transform_from_dict(meta["chain"])
            chain = t if isinstance(t, TransformChain) else TransformChain([t])
        pq = ProductQuantizer.from_dict(meta["pq"]) if meta["pq"] else None
        sq = ScalarQuantizer.from_dict(meta["sq"]) if meta["sq"] else None
        ivf = None
        if meta["index_type"] in ("ivfflat", "ivfsq", "ivfpq", "ivfpqr"):
            cents = np.load(os.path.join(path, "centroids.npy"))
            if meta["index_type"] == "ivfpqr":
                from auncel_spark.index.ivfpq import IVFPQRIndex

                ivf = IVFPQRIndex(
                    spark, cents, pq, path, metric, True,
                    refine_pq=ProductQuantizer.from_dict(meta["refine_pq"]),
                )
            elif meta["index_type"] == "ivfpq":
                from auncel_spark.index.ivfpq import IVFPQIndex

                ivf = IVFPQIndex(spark, cents, pq, path, metric, True)
            elif meta["index_type"] == "ivfsq":
                from auncel_spark.index.ivfsq import IVFSQIndex

                ivf = IVFSQIndex(spark, cents, sq, path, metric)
            else:
                ivf = IVFIndex(spark, cents, path, metric)
        coded = None
        if os.path.isdir(os.path.join(path, "coded")):
            coded = spark.read.parquet(os.path.join(path, "coded"))
        si = cls(parsed, metric, base, chain, ivf, pq, sq, coded)
        tb_path = os.path.join(path, "tbase")
        si.tbase = spark.read.parquet(tb_path) if os.path.isdir(tb_path) else base
        return si


def build_index(
    base: DataFrame,
    spec: str,
    metric: Metric = Metric.L2,
    path: str | None = None,
    nlist_override: int | None = None,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "vec",
) -> SearchIndex:
    parsed = parse_spec(spec)
    b = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    d = len(b.select("vec").first()[0])

    # train + apply the transform chain
    ts: list[VectorTransform] = []
    cur = b
    cur_d = d
    for t in parsed.transforms:
        if t == "L2norm":
            vt: VectorTransform = NormalizationTransform(cur_d)
        elif t.startswith("PCAW"):
            vt = PCATransform.train(cur, int(t[4:]), whiten=True, seed=seed)
        elif t.startswith("PCA"):
            vt = PCATransform.train(cur, int(t[3:]), seed=seed)
        elif t.startswith("OPQ"):
            vt = OPQTransform.train(cur, int(t[3:]), seed=seed)
        elif t.startswith("RR"):
            vt = RandomRotation(int(t[2:]), seed=seed)
        else:
            raise AssertionError(t)
        ts.append(vt)
        cur = vt.apply(cur, vec_col="vec")
        cur_d = vt.d_out
    chain = TransformChain(ts) if ts else None
    tb = cur.cache() if ts else b

    nlist = nlist_override or parsed.nlist
    ivf = pq = sq = coded = None
    if parsed.index_type == "ivfflat":
        ivf = IVFIndex.build(tb, nlist=nlist, metric=metric, path=path, seed=seed)
        if parsed.coarse_hnsw_m and metric == Metric.L2:
            # faiss IVF{n}_HNSW{M}: graph coarse quantizer over the
            # centroid set (worthwhile when nlist ~ 1M, not at 1024)
            ivf.use_hnsw_quantizer(M=parsed.coarse_hnsw_m)
    elif parsed.index_type == "ivfpq":
        ivf = IVFPQIndex.build(
            tb, nlist=nlist, M=parsed.pq_m, metric=metric, path=path, seed=seed
        )
        pq = ivf.pq
    elif parsed.index_type == "ivfpqr":
        from auncel_spark.index.ivfpq import IVFPQRIndex

        ivf = IVFPQRIndex.build(
            tb, nlist=nlist, M=parsed.pq_m, refine_M=parsed.refine_m,
            metric=metric, path=path, seed=seed,
        )
        pq = ivf.pq
    elif parsed.index_type == "ivfsq":
        from auncel_spark.index.ivfsq import IVFSQIndex

        ivf = IVFSQIndex.build(
            tb, nlist=nlist, metric=metric, path=path, seed=seed,
            qtype=parsed.sq_type,
        )
        sq = ivf.sq
    elif parsed.index_type == "pq":
        pq = ProductQuantizer.train(tb, M=parsed.pq_m, seed=seed)
        coded = pq.encode(tb).select("id", "code").cache()
    elif parsed.index_type == "sq8":
        sq = ScalarQuantizer.train(tb, qtype=parsed.sq_type)
        coded = sq.encode(tb).select("id", "code").cache()

    si = SearchIndex(parsed, metric, b, chain, ivf, pq, sq, coded)
    si.tbase = tb
    return si
