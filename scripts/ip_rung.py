"""TEXT-shaped inner-product rung: 1M x d=200, IP metric, ELP bounds.

VERDICT r08 Next #3: every bounded-search tier so far is d=96 L2; the
reference's eval grid has a TEXT rung (d=200, inner product —
``Auncel/eval/run.sh:1-17``, ``eval/bound.cpp:160-214``) where the ELP
geometry runs through the arccos transform (``IVF_pro.cpp:208-211``;
here profile/geometry.py) instead of raw squared-L2. This script
builds a 1M x 200 UNIT-NORM corpus (the acos geometry is defined on
the unit sphere — dot = cos angle), a spherical-k-means IVF under
Metric.IP, calibrates the error profile at the flagship (k=10,
bound=10%) config, and records the worst-case bound criterion + ms/q
into a kernel-stamped evidence artifact.

Everything reuses the engine's own paths: IVFIndex.build(metric=IP)
(spherical k-means), knn_exact(metric=IP) for GT, ErrorProfile
fit_and_calibrate_many / search.

Usage: python scripts/ip_rung.py
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np

from scripts.scale_bench import (
    KERNEL_VERSION,
    SAFETY,
    _MULT_GRID,
    _STD_GRID,
    _apply_margin,
    _dump_stamped,
    _id_gauss,
    _load_stamped,
)


def margin_and_validate(ep, p: dict, k: int, bound: float, val_df, gt_kth,
                        val_qid0: int, n_val: int):
    """The tier protocol's post-fit steps, applied to a rung: (a) the
    fixed margin steps (_apply_margin — the raw fit alone measured a
    0.70 worst case on this rung's first run: calibrated on 500 train
    queries, the unseen-set extreme value needs headroom); (b) a
    margin-VALIDATION pass on a held-out draw (never the test seed):
    escalate (multipler, then std_m) until the worst case holds there.
    Returns (params, escalation_steps)."""
    import pandas as pd

    params = _apply_margin({(k, bound): dict(p)})
    pp = params[(k, bound)]
    steps = 0
    while True:
        ep.multipler, ep.std_m = pp["multipler"], pp["std_m"]
        res = ep.search(val_df, k, require_acc=1.0 - bound).toPandas()
        qi = res["qid"].to_numpy(dtype=np.int64) - val_qid0
        ok = res["dist"].to_numpy() <= gt_kth[qi] + 1e-6
        minf = float(
            (pd.Series(ok).groupby(qi).sum().clip(upper=k)
             .reindex(range(n_val), fill_value=0) / float(k)).min()
        )
        pp["margin_val_minf"] = round(minf, 4)
        if minf >= 1.0 - bound - 1e-9:
            break
        # ADVICE r09: .index() raises ValueError off-grid (safe today
        # only because _apply_margin stays on-grid) — step to the next
        # STRICTLY LARGER grid member instead, and stamp the honest-miss
        # case explicitly so the artifact distinguishes "held" from
        # "grid ran out while still missing".
        next_mult = [m for m in _MULT_GRID if m > pp["multipler"]]
        if next_mult:
            pp["multipler"] = next_mult[0]
        else:
            next_std = [s for s in _STD_GRID if s > pp["std_m"]]
            if not next_std:
                pp["grid_exhausted"] = True
                break  # grid exhausted; record the miss honestly
            pp["std_m"] = next_std[0]
        steps += 1
    return pp, steps

N_IP = 1_000_000
D_IP = 200
NLIST_IP = 256
N_CL = 64  # query/corpus cluster structure (TEXT topics)
N_Q = 1000
N_TRAIN = 500
K = 10
BOUND = 0.10


def _centers_ip() -> np.ndarray:
    rng = np.random.default_rng(97)
    return (rng.standard_normal((N_CL, D_IP)) * 2.0).astype(np.float64)


def _gen_rows(ids: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic unit-norm rows: topic center + id-hash noise,
    L2-normalized (IP over unit vectors = cosine; the reference's TEXT
    vectors are similarity embeddings on the sphere)."""
    c = _centers_ip()[ids % N_CL]
    m = c + _id_gauss(ids + salt, D_IP)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m


def main() -> None:
    import pandas as pd

    from auncel_spark.config import Metric
    from auncel_spark.index.ivf import IVFIndex
    from auncel_spark.session import get_spark

    cache = Path(
        os.environ.get(
            "SPARK_GRAFT_SCALE_CACHE",
            str(Path(__file__).resolve().parent.parent / ".scale_cache"),
        )
    ) / f"ip_n{N_IP}_d{D_IP}_nlist{NLIST_IP}"
    cache.mkdir(parents=True, exist_ok=True)
    ev_path = cache / "ip_bounded_rung.json"
    saved = _load_stamped(ev_path)
    if saved is not None:
        print(json.dumps(saved))
        return

    spark = get_spark(
        "ip_rung", extra_conf={"spark.python.worker.reuse": "false"}
    )
    t_all = time.perf_counter()

    base_path = cache / "base"
    if not (base_path / "_SUCCESS").exists():
        n_parts = 64

        def gen(batches):
            for pdf in batches:
                for s in pdf["part"]:
                    lo = s * (N_IP // n_parts)
                    hi = N_IP if s == n_parts - 1 else (s + 1) * (N_IP // n_parts)
                    for b in range(lo, hi, 32768):
                        ids = np.arange(b, min(b + 32768, hi), dtype=np.int64)
                        mat = _gen_rows(ids, 0).astype(np.float32)
                        yield pd.DataFrame({"id": ids, "vec": list(mat)})

        parts = spark.createDataFrame(
            pd.DataFrame({"part": np.arange(n_parts)})
        ).repartition(n_parts, "part")
        parts.mapInPandas(gen, "id bigint, vec array<float>").write.mode(
            "overwrite"
        ).parquet(str(base_path))
    base = spark.read.parquet(str(base_path))

    flat_dir = cache / "ivf"
    if (flat_dir / "meta.json").exists():
        flat = IVFIndex.load(spark, str(flat_dir))
    else:
        flat = IVFIndex.build(
            base, nlist=NLIST_IP, metric=Metric.IP, path=str(flat_dir),
            kmeans_iter=10, seed=5,
        )

    qids = np.arange(N_Q, dtype=np.int64) + 10_000_000
    qmat = _gen_rows(qids, 7_777)
    q_df = spark.createDataFrame(
        pd.DataFrame({"qid": qids, "vec": list(qmat.astype(np.float32))})
    )

    gt_path = cache / "gt.npy"
    if gt_path.exists():
        gt = np.load(gt_path)
    else:
        from auncel_spark.operators.knn import knn_exact

        ex = knn_exact(
            q_df, base.select("id", "vec"), K, Metric.IP
        ).toPandas()
        gt = np.full((N_Q, K), np.inf)
        gt[ex["qid"].to_numpy() - 10_000_000, ex["pos"].to_numpy()] = ex[
            "dist"
        ].to_numpy()
        np.save(gt_path, gt)

    from auncel_spark.profile.error_profile import ErrorProfile

    prof_dir = cache / "profile"
    params_path = cache / "bounded_params.json"
    ep = ErrorProfile(flat, max_topk=100)
    if params_path.exists() and (prof_dir / "profile.json").exists():
        ep = ErrorProfile.load(flat, str(prof_dir))
        with open(params_path) as f:
            p = json.load(f)
    else:
        tids = np.arange(N_TRAIN, dtype=np.int64) + 20_000_000
        train_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "qid": tids,
                    "vec": list(_gen_rows(tids, 3_333).astype(np.float32)),
                }
            )
        )
        t0 = time.perf_counter()
        cal = ep.fit_and_calibrate_many(
            train_df, [(K, BOUND)],
            multipler_grid=_MULT_GRID, std_m_grid=_STD_GRID, safety=SAFETY,
        )
        raw = cal[(K, BOUND)]
        # margin + held-out validation escalation (the tier protocol;
        # the raw fit alone measured worst case 0.70 on this rung)
        from auncel_spark.operators.knn import knn_exact

        vids = np.arange(N_Q, dtype=np.int64) + 30_000_000
        val_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "qid": vids,
                    "vec": list(_gen_rows(vids, 5_555).astype(np.float32)),
                }
            )
        ).cache()
        vex = knn_exact(
            val_df, base.select("id", "vec"), K, Metric.IP
        ).toPandas()
        vgt = np.full((N_Q, K), np.inf)
        vgt[vex["qid"].to_numpy() - 30_000_000, vex["pos"].to_numpy()] = vex[
            "dist"
        ].to_numpy()
        p, esc = margin_and_validate(
            ep, raw, K, BOUND, val_df, vgt[:, K - 1], 30_000_000, N_Q
        )
        val_df.unpersist()
        p["raw_fit"] = {k_: raw[k_] for k_ in ("multipler", "std_m") if k_ in raw}
        p["escalation_steps"] = esc
        p["fit_sec"] = round(time.perf_counter() - t0, 1)
        ep.save(str(prof_dir))
        with open(params_path, "w") as f:
            json.dump(p, f)

    ep.multipler, ep.std_m = p["multipler"], p["std_m"]
    out = {
        "n": N_IP, "d": D_IP, "nlist": NLIST_IP, "metric": "ip",
        "params": {
            k: p[k]
            for k in (
                "multipler", "std_m", "raw_fit", "escalation_steps",
                "margin_val_minf",
            )
            if k in p
        },
    }
    # bounded search: 3 warm passes, median wall; bounds checked on all
    runs, minfs = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        res = ep.search(q_df, K, require_acc=1.0 - BOUND).toPandas()
        runs.append(time.perf_counter() - t0)
        qi = res["qid"].to_numpy(dtype=np.int64) - 10_000_000
        ok = res["dist"].to_numpy() <= gt[qi, K - 1] + 1e-6
        minfs.append(
            float(
                (pd.Series(ok).groupby(qi).sum().clip(upper=K)
                 .reindex(range(N_Q), fill_value=0) / float(K)).min()
            )
        )
    out["bounded"] = {
        "config": f"k{K}_b{int(BOUND * 100)}",
        "ms_per_query": round(sorted(runs)[1] / N_Q * 1000.0, 3),
        "ms_per_query_runs": [round(r / N_Q * 1000.0, 3) for r in runs],
        "bound_satisfaction_min": round(min(minfs), 4),
        "holds": bool(min(minfs) >= 1.0 - BOUND - 1e-9),
    }
    # fixed-nprobe reference point (recall vs cost without the ELP)
    t0 = time.perf_counter()
    fx = flat.search(q_df, K, nprobe=16).toPandas()
    wall = time.perf_counter() - t0
    qi = fx["qid"].to_numpy(dtype=np.int64) - 10_000_000
    ok = fx["dist"].to_numpy() <= gt[qi, K - 1] + 1e-6
    rec = float(
        (pd.Series(ok).groupby(qi).sum().clip(upper=K)
         .reindex(range(N_Q), fill_value=0) / float(K)).mean()
    )
    out["fixed_nprobe16"] = {
        "recall_at_10": round(rec, 4),
        "ms_per_query": round(wall / N_Q * 1000.0, 3),
    }
    out["total_sec"] = round(time.perf_counter() - t_all, 1)
    _dump_stamped(ev_path, out)
    print(json.dumps({**out, "kernel": KERNEL_VERSION}))


if __name__ == "__main__":
    main()
