"""High-dimensional (d=960, GIST-shaped) 1M rung with OPQ on/off pairs.

VERDICT r07 Next #6: the scale ladders exercised only d=96 L2, where
coarse residuals are isotropic and OPQ measurably ties plain PQ; the
reference's eval grid lives at GIST d=960 (``Auncel/eval/run.sh:1-17``)
where subspace energies are wildly unequal and the OPQ rotation is the
difference between usable and useless codes. This script builds a 1M x
960 ANISOTROPIC corpus (per-dimension scale decaying as (1+j)^-0.6 —
the spectral shape of real image descriptors), an IVF coarse quantizer,
and an M=60 product quantizer with and without the OPQ rotation, and
records recall@10 at matched operating points into a kernel-stamped
evidence artifact (h2h-style honest pair, not a prose claim).

Everything reuses the engine's own build paths: train_kmeans,
OPQTransform.train, IVFPQIndex.build(assigned=), search_refine.

Usage: python scripts/highd_rung.py
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
    _dump_stamped,
    _load_stamped,
)

N_HD = 1_000_000
D_HD = 960
NLIST_HD = 256
M_HD = 60  # dsub = 16, 60-byte codes — the GIST-regime code shape
N_Q = 1000
K = 10


def _scales() -> np.ndarray:
    # decaying per-dimension energy: var_j ~ (1+j)^-1.2 (scale^2).
    # Subspace energies then span ~(960/16)^1.2 ≈ 135x between the
    # first and last 16-dim block — plain PQ gives every block the
    # same 8 bits; OPQ's rotation balances variance across blocks.
    j = np.arange(D_HD, dtype=np.float64)
    return (1.0 + j) ** -0.6


def _gen_block(ids: np.ndarray) -> np.ndarray:
    """Deterministic per-id gaussian row, scaled anisotropically —
    the same splitmix64 id-hash trick as the d=96 tiers (corpus is a
    pure function of row id; no stored raw corpus needed)."""
    from scripts.scale_bench import _id_gauss

    return _id_gauss(ids, D_HD) * _scales()[None, :]


def ensure_corpus(spark, cache: Path) -> str:
    path = cache / "base"
    if (path / "_SUCCESS").exists():
        return str(path)
    import pandas as pd

    n_parts = 64

    def gen(batches):
        for pdf in batches:
            for s in pdf["part"]:
                lo = s * (N_HD // n_parts)
                hi = N_HD if s == n_parts - 1 else (s + 1) * (N_HD // n_parts)
                step = 16384
                for b in range(lo, hi, step):
                    ids = np.arange(b, min(b + step, hi), dtype=np.int64)
                    mat = _gen_block(ids).astype(np.float32)
                    yield pd.DataFrame({"id": ids, "vec": list(mat)})

    parts = spark.createDataFrame(
        pd.DataFrame({"part": np.arange(n_parts)})
    ).repartition(n_parts, "part")
    df = parts.mapInPandas(gen, "id bigint, vec array<float>")
    df.write.mode("overwrite").parquet(str(path))
    return str(path)


def main() -> None:
    from auncel_spark.session import get_spark
    from auncel_spark.index.ivf import IVFIndex
    from auncel_spark.index.ivfpq import IVFPQIndex

    cache = Path(
        os.environ.get(
            "SPARK_GRAFT_SCALE_CACHE",
            str(Path(__file__).resolve().parent.parent / ".scale_cache"),
        )
    ) / f"hd_n{N_HD}_d{D_HD}_nlist{NLIST_HD}"
    cache.mkdir(parents=True, exist_ok=True)
    ev_path = cache / "highd_opq_rungs.json"
    saved = _load_stamped(ev_path)
    if saved is not None and "target_sweep" in saved and "bounded" in saved:
        print(json.dumps(saved))
        return

    spark = get_spark(
        "highd_rung", extra_conf={"spark.python.worker.reuse": "false"}
    )
    t_all = time.perf_counter()
    base_path = ensure_corpus(spark, cache)
    base = spark.read.parquet(base_path)

    # coarse quantizer + assignment (shared by both PQ variants)
    flat_dir = cache / "ivf"
    if (flat_dir / "meta.json").exists():
        flat = IVFIndex.load(spark, str(flat_dir))
    else:
        flat = IVFIndex.build(
            base, nlist=NLIST_HD, path=str(flat_dir), kmeans_iter=10, seed=5
        )

    # queries + exact GT (ids offset out of the corpus range)
    qids = np.arange(N_Q, dtype=np.int64) + 10_000_000
    rng_scale = _scales()
    from scripts.scale_bench import _id_gauss

    qmat = _id_gauss(qids + 7_777, D_HD) * rng_scale[None, :]
    gt_path = cache / "gt.npy"
    if gt_path.exists():
        gt = np.load(gt_path)
    else:
        import pandas as pd

        q_df = spark.createDataFrame(
            pd.DataFrame({"qid": qids, "vec": list(qmat.astype(np.float32))})
        )
        from auncel_spark.operators.knn import knn_exact

        ex = knn_exact(
            q_df, base.select("id", "vec"), K
        ).toPandas()
        gt = np.full((N_Q, K), np.inf)
        gt[ex["qid"].to_numpy() - 10_000_000, ex["pos"].to_numpy()] = ex[
            "dist"
        ].to_numpy()
        np.save(gt_path, gt)

    import pandas as pd

    q_df = spark.createDataFrame(
        pd.DataFrame({"qid": qids, "vec": list(qmat.astype(np.float32))})
    )

    def _recall(ref) -> float:
        qi = ref["qid"].to_numpy(dtype=np.int64) - 10_000_000
        ok = ref["dist"].to_numpy() <= gt[qi, K - 1] + 1e-6
        hits = (
            pd.Series(ok).groupby(qi).sum().clip(upper=K)
            .reindex(range(N_Q), fill_value=0)
        )
        return float((hits / float(K)).mean())

    # one id-addressed exact store for every search_refine below: the
    # flat index's own list store (a DataFrame base would be written
    # into a store on each index's first call, inside the timed
    # ms_per_query)
    refine_base = flat.store

    out = dict(saved) if saved is not None else {
        "n": N_HD, "d": D_HD, "nlist": NLIST_HD, "M": M_HD, "rungs": []
    }
    # OPQ-vs-plain pair: reused from a prior same-kernel artifact if
    # already measured (the new sections below append to it)
    pair_done = bool(out.get("rungs"))
    for name, use_opq in (("plain", False), ("opq", True)):
        if pair_done:
            break
        pq_dir = cache / f"ivfpq_{name}"
        t0 = time.perf_counter()
        if (pq_dir / "meta.json").exists():
            pq_idx = IVFPQIndex.load(spark, str(pq_dir))
            build_s = 0.0
        else:
            # both variants train their PQ on the same residual
            # sample path inside build(); opq=True additionally trains
            # the rotation on those residuals (the engine's own OPQ
            # flow, transforms.OPQTransform.train)
            pq_idx = IVFPQIndex.build(
                base,
                nlist=NLIST_HD,
                M=M_HD,
                centroids=flat.centroids,
                path=str(pq_dir),
                opq=use_opq,
                assigned=flat.data,
                encode_gemm=True,
                seed=17,
            )
            build_s = time.perf_counter() - t0
        pq_idx.adc_fp32 = True
        for nprobe, kf in ((16, 4), (32, 8)):
            t0 = time.perf_counter()
            ref = pq_idx.search_refine(
                q_df, refine_base, K, nprobe, k_factor=kf
            ).toPandas()
            wall = time.perf_counter() - t0
            qi = ref["qid"].to_numpy(dtype=np.int64) - 10_000_000
            ok = ref["dist"].to_numpy() <= gt[qi, K - 1] + 1e-6
            # ADVICE r08 #5: cap per-query hits at K (distance ties can
            # admit >K rows) and average over ALL queries (a query
            # returning zero rows must count as recall 0, not drop out)
            hits = (
                pd.Series(ok).groupby(qi).sum().clip(upper=K)
                .reindex(range(N_Q), fill_value=0)
            )
            recall = float((hits / float(K)).mean())
            out["rungs"].append(
                {
                    "variant": name,
                    "nprobe": nprobe,
                    "k_factor": kf,
                    "recall_at_10": round(recall, 4),
                    "ms_per_query": round(wall / N_Q * 1000.0, 3),
                    "build_sec": round(build_s, 1),
                }
            )
            print(f"# {name} np{nprobe} kf{kf}: {out['rungs'][-1]}", file=sys.stderr)
    # --- target sweep to a REAL operating point (VERDICT r08 Next #3):
    # r08's best rung was 0.64 recall — far from the 0.9 the other
    # tiers target. Walk (nprobe, k_factor) up the OPQ index cheapest
    # first; if the M=60 code quality ceilings below 0.9 (refine can
    # only fix candidates the ADC ranking surfaces), build the M=120
    # (dsub=8) variant and walk it the same way.
    if "target_sweep" not in out:
        sweep = {"target": 0.9, "attempts": [], "chosen": None}
        for M_t in (M_HD, 120):
            name = "opq" if M_t == M_HD else f"opq_m{M_t}"
            pq_dir = cache / f"ivfpq_{name}"
            t0 = time.perf_counter()
            if (pq_dir / "meta.json").exists():
                pq_idx = IVFPQIndex.load(spark, str(pq_dir))
                build_s = 0.0
            else:
                pq_idx = IVFPQIndex.build(
                    base, nlist=NLIST_HD, M=M_t, centroids=flat.centroids,
                    path=str(pq_dir), opq=True, assigned=flat.data,
                    encode_gemm=True, seed=17,
                )
                build_s = time.perf_counter() - t0
            pq_idx.adc_fp32 = True
            for nprobe, kf in ((32, 16), (64, 16), (64, 32), (128, 32)):
                t0 = time.perf_counter()
                ref = pq_idx.search_refine(
                    q_df, refine_base, K, nprobe, k_factor=kf
                ).toPandas()
                wall = time.perf_counter() - t0
                att = {
                    "M": M_t, "nprobe": nprobe, "k_factor": kf,
                    "recall_at_10": round(_recall(ref), 4),
                    "ms_per_query": round(wall / N_Q * 1000.0, 3),
                    "build_sec": round(build_s, 1),
                }
                build_s = 0.0
                sweep["attempts"].append(att)
                print(f"# sweep {att}", file=sys.stderr)
                if att["recall_at_10"] >= sweep["target"]:
                    sweep["chosen"] = att
                    break
            if sweep["chosen"] is not None:
                break
        out["target_sweep"] = sweep

    # --- ELP bounded search at d=960 (VERDICT r08 Next #3: "bounds
    # must hold there too"): calibrate the error profile on the flat
    # d960 index at the flagship config (k=10, bound=10%) with held-out
    # train queries, then check the worst-case criterion on the test
    # set — the reference's GIST rung (eval/bound.cpp:160-214).
    if "bounded" not in out:
        from auncel_spark.profile.error_profile import ErrorProfile
        from scripts.ip_rung import margin_and_validate
        from scripts.scale_bench import SAFETY, _MULT_GRID, _STD_GRID

        prof_dir = cache / "profile"
        ep = ErrorProfile(flat, max_topk=100)
        params_path = cache / "bounded_params.json"
        if params_path.exists() and (prof_dir / "profile.json").exists():
            ep = ErrorProfile.load(flat, str(prof_dir))
            with open(params_path) as f:
                p = json.load(f)
        else:
            tq = _id_gauss(
                np.arange(500, dtype=np.int64) + 20_000_000 + 3_333, D_HD
            ) * rng_scale[None, :]
            train_df = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "qid": np.arange(500, dtype=np.int64) + 20_000_000,
                        "vec": list(tq.astype(np.float32)),
                    }
                )
            )
            t0 = time.perf_counter()
            cal = ep.fit_and_calibrate_many(
                train_df, [(K, 0.10)],
                multipler_grid=_MULT_GRID, std_m_grid=_STD_GRID,
                safety=SAFETY,
            )
            raw = cal[(K, 0.10)]
            # margin + held-out validation escalation (tier protocol —
            # see ip_rung.margin_and_validate; a raw 500-query fit's
            # unseen-set extreme value needs headroom)
            from auncel_spark.operators.knn import knn_exact

            vids = np.arange(N_Q, dtype=np.int64) + 30_000_000
            vq = _id_gauss(vids + 5_555, D_HD) * rng_scale[None, :]
            val_df = spark.createDataFrame(
                pd.DataFrame({"qid": vids, "vec": list(vq.astype(np.float32))})
            ).cache()
            vex = knn_exact(
                val_df, base.select("id", "vec"), K
            ).toPandas()
            vgt = np.full((N_Q, K), np.inf)
            vgt[vex["qid"].to_numpy() - 30_000_000, vex["pos"].to_numpy()] = (
                vex["dist"].to_numpy()
            )
            p, esc = margin_and_validate(
                ep, raw, K, 0.10, val_df, vgt[:, K - 1], 30_000_000, N_Q
            )
            val_df.unpersist()
            p["escalation_steps"] = esc
            p["fit_sec"] = round(time.perf_counter() - t0, 1)
            ep.save(str(prof_dir))
            with open(params_path, "w") as f:
                json.dump(p, f)
        ep.multipler, ep.std_m = p["multipler"], p["std_m"]
        t0 = time.perf_counter()
        res = ep.search(q_df, K, require_acc=0.90).toPandas()
        wall = time.perf_counter() - t0
        qi = res["qid"].to_numpy(dtype=np.int64) - 10_000_000
        ok = res["dist"].to_numpy() <= gt[qi, K - 1] + 1e-6
        minf = float(
            (pd.Series(ok).groupby(qi).sum().clip(upper=K)
             .reindex(range(N_Q), fill_value=0) / float(K)).min()
        )
        out["bounded"] = {
            "config": "k10_b10",
            "ms_per_query": round(wall / N_Q * 1000.0, 3),
            "bound_satisfaction": round(minf, 4),
            "holds": bool(minf >= 0.90 - 1e-9),
            "multipler": p["multipler"],
            "std_m": p["std_m"],
        }
        print(f"# bounded {out['bounded']}", file=sys.stderr)

    out["total_sec"] = round(time.perf_counter() - t_all, 1)
    _dump_stamped(ev_path, out)
    print(json.dumps({**out, "kernel": KERNEL_VERSION}))


if __name__ == "__main__":
    main()
