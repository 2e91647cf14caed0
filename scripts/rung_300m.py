"""300M codes-only "lists ∝ n" head-to-head (VERDICT r08/r09 Next #4).

The question, from the reference's distributed layout (one IVF1024 per
10M-row shard — ``Auncel/dist/worker.cpp:83``): should nlist grow with
the corpus? At 100M the adjudicated h2h (evidence/100m_h2h_nlist.json)
decided for the pinned parent-1024 quantizer — per-list scan overhead
beat the split's gather reduction. At 300M the parent's mean list is
~293k rows (3x the 100M point, ~36x the 1M tier's); this rung measures
whether the crossover flips, with the same interleaved-medians
protocol.

Codes-only at 300M by construction (disk): no flat index, no refine
sidecar. Every vector is a pure function of its row id (the tiers'
``_id_gauss`` generator), so:
- coarse assignment regenerates vectors on the fly (the
  ``ensure_index_big`` posture, scale_bench.py:369);
- the EXACT refine regenerates candidate vectors from their ids
  driver-side — the generator plays the id-addressable refine
  sidecar's role with zero disk, identically for both sides (the h2h
  compares SCAN paths; refine cost is common-mode);
- exact GT comes from one lazy GEMM pass over the generated corpus.

Sides (both M=16 residual PQ, same codebooks, byte-identical codes):
- parent1024: nlist=1024 (the 100M tier's trained quantizer, reused —
  identical corpus distribution), codes partitioned by parent list.
- split4096:  the refined 4096-cell quantizer via the engine's
  split-quantizer design (per-parent sub-centroids, rows re-routed to
  children, codes unchanged / parent-residual — index/ivfpq.py
  ``split_ivfpq_lists`` semantics, re-encoded reduce-side here instead
  of join-shuffled so the transient disk stays ~3 GB, not ~10).

M=16 (not the 100M h2h's M=32) is a disk-budget call: two 300M code
tables must coexist in ~16 GB free. The h2h variable under test —
list length x nprobe scan shape vs per-list overhead — is unchanged;
the M difference is recorded in the artifact.

Usage: python scripts/rung_300m.py [--measure-only]
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
    D,
    KERNEL_VERSION,
    N100,
    N_CLUSTERS,
    NLIST,
    SCALE_ADC_FP32,
    _cache_dir,
    _centers,
    _dump_stamped,
    _gen_queries_pdf,
    _id_gauss,
    _load_stamped,
    _warm_read,
)

N300 = 300_000_000
M_PQ = 16
SPLIT = 4
N_Q = 1000
K = 10
K_FACTOR = 32
QID0 = 400_000_000
GT_K = 100


def _cache() -> Path:
    root = Path(
        os.environ.get(
            "SPARK_GRAFT_SCALE_CACHE",
            str(Path(__file__).resolve().parent.parent / ".scale_cache"),
        )
    )
    p = root / f"n{N300}_d{D}_m{M_PQ}_rung"
    p.mkdir(parents=True, exist_ok=True)
    return p


def _gen_rows(ids: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """The tier generator, float32-cast exactly as the corpus stores
    rows (refine/GT parity depends on reproducing the cast)."""
    return (cents[ids % N_CLUSTERS] + _id_gauss(ids, D)).astype(np.float32)


def ensure_assign(spark, cache: Path, cents1024: np.ndarray) -> str:
    """(id, list_no) for all 300M rows — regen + float64 argmin, the
    exact ``assign_light`` arithmetic (scale_bench.py:397). ~3.6 GB,
    the only shuffled/persisted per-row state besides the codes."""
    out = cache / "assign"
    if (out / "_SUCCESS").exists():
        return str(out)
    import pandas as pd

    t0 = time.perf_counter()
    bc_gen = spark.sparkContext.broadcast(_centers())
    bc_c = spark.sparkContext.broadcast(np.asarray(cents1024, dtype=np.float64))

    def work(batches):
        gcents = bc_gen.value
        c = bc_c.value
        c_norms = (c * c).sum(axis=1)[None, :]
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            mat = _gen_rows(ids, gcents).astype(np.float64)
            dist = -2.0 * (mat @ c.T) + c_norms
            yield pd.DataFrame(
                {"id": ids, "list_no": dist.argmin(axis=1).astype(np.int32)}
            )

    (
        spark.range(0, N300, 1, max(64, N300 // 250_000))
        .mapInPandas(work, "id bigint, list_no int")
        .write.mode("overwrite")
        .parquet(str(out))
    )
    print(f"# assign pass: {time.perf_counter() - t0:.0f}s", file=sys.stderr)
    return str(out)


def ensure_pq(spark, cache: Path, cents1024: np.ndarray):
    """M=16 residual codebooks trained on a driver-regenerated sample
    (30k rows) — no full-corpus training pass (the ensure_ivfpq
    pre-train posture, scale_bench.py:837)."""
    from auncel_spark.index.pq import ProductQuantizer

    pq_path = cache / "pq.json"
    if pq_path.exists():
        with open(pq_path) as f:
            return ProductQuantizer.from_dict(json.load(f))
    import pandas as pd

    cents = _centers()
    c64 = np.asarray(cents1024, dtype=np.float64)
    ids = (np.arange(30_000, dtype=np.int64) * (N300 // 30_000)) + 11
    mat = _gen_rows(ids, cents).astype(np.float64)
    dist = -2.0 * (mat @ c64.T) + (c64 * c64).sum(axis=1)[None, :]
    ln = dist.argmin(axis=1)
    res = (mat - c64[ln]).astype(np.float32)
    res_df = spark.createDataFrame(pd.DataFrame({"rvec": list(res)}))
    pq = ProductQuantizer.train(res_df, M=M_PQ, vec_col="rvec", seed=42)
    with open(pq_path, "w") as f:
        json.dump(pq.to_dict(), f)
    return pq


def ensure_parent(spark, cache: Path, cents1024: np.ndarray, pq, assign_path: str):
    """nlist=1024 codes via the engine's own build path
    (IVFPQIndex.build(assigned=, pq=) — encode is map-side, only the
    ~28 B/row coded frame shuffles into the partitionBy write)."""
    from auncel_spark.index.ivfpq import IVFPQIndex

    path = cache / "parent"
    if (path / "meta.json").exists():
        return IVFPQIndex.load(spark, str(path))
    import pandas as pd

    t0 = time.perf_counter()
    bc_gen = spark.sparkContext.broadcast(_centers())

    def attach(batches):
        gcents = bc_gen.value
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {
                    "id": ids,
                    "vec": list(_gen_rows(ids, gcents)),
                    "list_no": pdf["list_no"].to_numpy(),
                }
            )

    assigned = (
        spark.read.parquet(assign_path)
        .mapInPandas(attach, "id bigint, vec array<float>, list_no int")
    )
    idx = IVFPQIndex.build(
        assigned,
        nlist=NLIST,
        M=M_PQ,
        centroids=cents1024,
        path=str(path),
        pq=pq,
        assigned=assigned,
        encode_gemm=True,
    )
    print(f"# parent build: {time.perf_counter() - t0:.0f}s", file=sys.stderr)
    return idx


def ensure_children(spark, cache: Path, cents1024: np.ndarray, assign_path: str):
    """Per-parent sub-centroids from a sampled slice (the
    split_ivfpq_lists step-1 recipe: ~256 rows/parent, driver Lloyd)."""
    ch_path = cache / "children.npy"
    if ch_path.exists():
        return np.load(ch_path)
    from auncel_spark.index.pq import train_codebook

    t0 = time.perf_counter()
    frac = min(1.0, 1.5 * 256 * NLIST / N300)
    samp = (
        spark.read.parquet(assign_path)
        .sample(fraction=frac, seed=7)
        .toPandas()
    )
    cents = _centers()
    parents = np.asarray(cents1024, dtype=np.float64)
    ids = samp["id"].to_numpy(dtype=np.int64)
    lns = samp["list_no"].to_numpy()
    mat = _gen_rows(ids, cents).astype(np.float64)
    children = np.empty((NLIST, SPLIT, D))
    rng_base = 7
    for p in range(NLIST):
        rows = np.where(lns == p)[0]
        if len(rows) >= SPLIT:
            children[p] = train_codebook(mat[rows], SPLIT, 8, rng_base + p)
        else:
            rng = np.random.default_rng(rng_base + p)
            children[p] = parents[p][None, :] + rng.normal(0, 1e-6, (SPLIT, D))
    np.save(ch_path, children)
    print(f"# children train: {time.perf_counter() - t0:.0f}s", file=sys.stderr)
    return children


def ensure_split(spark, cache: Path, cents1024: np.ndarray, pq, children,
                 assign_path: str):
    """nlist=4096 codes: route each row to its nearest child WITHIN its
    parent, then regenerate + re-encode on the reduce side (codes are
    parent-residual, so they come out byte-identical to the parent
    table's — determinism replaces the 10 GB code-shuffle join of
    split_ivfpq_lists with a ~3 GB (id, list_no, rlist) exchange)."""
    from auncel_spark.index.ivfpq import IVFPQIndex
    from pyspark.sql import functions as F

    path = cache / "split"
    if (path / "meta.json").exists():
        return IVFPQIndex.load(spark, str(path))
    import pandas as pd

    t0 = time.perf_counter()
    parents = np.asarray(cents1024, dtype=np.float64)
    bc_gen = spark.sparkContext.broadcast(_centers())
    bc_ch = spark.sparkContext.broadcast(children)
    bc_par = spark.sparkContext.broadcast(parents)
    bc_pq = spark.sparkContext.broadcast(pq.to_dict())

    def route(batches):
        gcents = bc_gen.value
        ch = bc_ch.value
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            lns = pdf["list_no"].to_numpy()
            mat = _gen_rows(ids, gcents).astype(np.float64)
            rl = np.empty(len(ids), dtype=np.int32)
            for ln in np.unique(lns):
                m = lns == ln
                c = ch[int(ln)]
                dd = (c * c).sum(axis=1)[None, :] - 2.0 * (mat[m] @ c.T)
                rl[m] = int(ln) * SPLIT + dd.argmin(axis=1).astype(np.int32)
            yield pd.DataFrame({"id": ids, "list_no": lns, "rlist": rl})

    def encode(batches):
        from auncel_spark.index.pq import ProductQuantizer

        gcents = bc_gen.value
        par = bc_par.value
        pq_w = ProductQuantizer.from_dict(bc_pq.value)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            lns = pdf["list_no"].to_numpy()
            res = _gen_rows(ids, gcents).astype(np.float64) - par[lns]
            codes = pq_w.encode_np(res, gemm=True)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "code": [bytes(c) for c in codes],
                    "list_no": pdf["rlist"].to_numpy(),
                }
            )

    from auncel_spark.index.list_store import write_store

    # each encode task holds whole refined lists: stage without a shuffle
    write_store(
        spark.read.parquet(assign_path)
        .mapInPandas(route, "id bigint, list_no int, rlist int")
        .repartition(256, "rlist")
        .mapInPandas(encode, "id bigint, code binary, list_no int"),
        str(path), NLIST * SPLIT, ("code",), shuffle=False,
    )
    child_flat = children.reshape(NLIST * SPLIT, D)
    enc_of = np.repeat(np.arange(NLIST, dtype=np.int32), SPLIT)
    with open(path / "meta.json", "w") as f:
        json.dump(
            {
                "kind": "ivfpq",
                "nlist": NLIST * SPLIT,
                "d": D,
                "metric": "l2",
                "by_residual": True,
                "split": SPLIT,
                "parent_nlist": NLIST,
                "pq": pq.to_dict(),
            },
            f,
        )
    np.save(path / "centroids.npy", child_flat)
    np.save(path / "enc_of.npy", enc_of)
    np.save(path / "enc_centroids.npy", parents)
    print(f"# split build: {time.perf_counter() - t0:.0f}s", file=sys.stderr)
    return IVFPQIndex.load(spark, str(path))


def ensure_gt(spark, cache: Path) -> np.ndarray:
    gt_path = cache / "gt.npy"
    if gt_path.exists():
        return np.load(gt_path)
    from auncel_spark.operators.knn import knn_exact
    from scripts.scale_bench import _lazy_base_df

    t0 = time.perf_counter()
    q_df = spark.createDataFrame(_gen_queries_pdf(17, N_Q, QID0))
    ex = knn_exact(
        q_df, _lazy_base_df(spark, N300), GT_K
    ).toPandas()
    gt = np.full((N_Q, GT_K), np.inf)
    gt[ex["qid"].to_numpy() - QID0, ex["pos"].to_numpy()] = ex["dist"].to_numpy()
    np.save(gt_path, gt)
    print(f"# gt pass: {time.perf_counter() - t0:.0f}s", file=sys.stderr)
    return gt


def measure_point(spark, idx, q_df, qmat64, gt, nprobe: int, kf: int) -> dict:
    """One timed ADC search + generator-exact refine, both sides'
    common protocol. Returns ms/query + recall@10 (capped/reindexed
    accounting, ADVICE r08 #5)."""
    import pandas as pd

    cents = _centers()
    t0 = time.perf_counter()
    cand = idx.search(q_df, K * kf, nprobe).select("qid", "id").toPandas()
    ids = cand["id"].to_numpy(dtype=np.int64)
    qp = cand["qid"].to_numpy(dtype=np.int64) - QID0
    vec = _gen_rows(ids, cents).astype(np.float64)
    diff = vec - qmat64[qp]
    dist = (diff * diff).sum(axis=1)
    # exact top-k per query, (dist, id) tie-break
    order = np.lexsort((ids, dist, qp))
    qs, ds, is_ = qp[order], dist[order], ids[order]
    first = np.r_[True, qs[1:] != qs[:-1]]
    rank = np.arange(len(qs)) - np.maximum.accumulate(np.where(first, np.arange(len(qs)), -1))
    topm = rank < K
    wall = time.perf_counter() - t0
    ok = ds[topm] <= gt[qs[topm], K - 1] + 1e-6
    hits = (
        pd.Series(ok).groupby(qs[topm]).sum().clip(upper=K)
        .reindex(range(N_Q), fill_value=0)
    )
    return {
        "nprobe": nprobe,
        "k_factor": kf,
        "ms_per_query": round(wall / N_Q * 1000.0, 3),
        "recall_at_10": round(float((hits / float(K)).mean()), 4),
    }


def main() -> None:
    from auncel_spark.session import get_spark

    cache = _cache()
    ev_path = cache / "h2h_300m.json"
    saved = _load_stamped(ev_path)
    if saved is not None and saved.get("decided") is not None:
        print(json.dumps(saved))
        return

    spark = get_spark(
        "rung_300m", extra_conf={"spark.python.worker.reuse": "false"}
    )

    # parent quantizer: the 100M tier's trained centroids (identical
    # corpus distribution at any n — rows are a pure function of id)
    c_src = _cache_dir(N100) / "ivf" / "centroids.npy"
    cents1024 = np.load(c_src)
    np.save(cache / "centroids.npy", cents1024)

    pq = ensure_pq(spark, cache, cents1024)
    assign_path = ensure_assign(spark, cache, cents1024)
    parent = ensure_parent(spark, cache, cents1024, pq, assign_path)
    children = ensure_children(spark, cache, cents1024, assign_path)
    split = ensure_split(spark, cache, cents1024, pq, children, assign_path)
    gt = ensure_gt(spark, cache)
    parent.adc_fp32 = SCALE_ADC_FP32
    split.adc_fp32 = SCALE_ADC_FP32

    qpdf = _gen_queries_pdf(17, N_Q, QID0)
    q_df = spark.createDataFrame(qpdf).cache()
    q_df.count()
    qmat64 = np.array(list(qpdf["vec"]), dtype=np.float64)

    out = dict(saved) if saved is not None else {
        "n": N300, "d": D, "M": M_PQ, "split": SPLIT,
        "parent_nlist": NLIST, "split_nlist": NLIST * SPLIT,
        "protocol": "interleaved medians (h2h_nlist protocol), "
        "generator-exact refine common to both sides",
    }

    # operating-point probe: one pass per candidate point, pick each
    # side's cheapest point with recall within 0.01 of the best side
    if "probe" not in out:
        out["warm_load"] = _warm_read(
            [str(cache / "parent" / "store"), str(cache / "split" / "store")]
        )
        probe = {"parent": [], "split": []}
        for npb in (8, 16, 32):
            probe["parent"].append(
                measure_point(spark, parent, q_df, qmat64, gt, npb, K_FACTOR)
            )
            print(f"# parent np{npb}: {probe['parent'][-1]}", file=sys.stderr)
        for npb in (16, 24, 32, 64):
            probe["split"].append(
                measure_point(spark, split, q_df, qmat64, gt, npb, K_FACTOR)
            )
            print(f"# split np{npb}: {probe['split'][-1]}", file=sys.stderr)
        out["probe"] = probe
        _dump_stamped(ev_path, out)

    # matched operating points: cheapest point per side whose recall
    # is >= (best common recall - 0.005)
    probe = out["probe"]
    target = min(
        max(p["recall_at_10"] for p in probe["parent"]),
        max(p["recall_at_10"] for p in probe["split"]),
    ) - 0.005
    def pick(side):
        ok = [p for p in probe[side] if p["recall_at_10"] >= target]
        return min(ok, key=lambda p: p["ms_per_query"])
    sides = {"parent1024": (parent, pick("parent")), "split4096": (split, pick("split"))}
    out["matched_recall_target"] = round(target, 4)

    rounds = int(os.environ.get("SPARK_GRAFT_H2H_ROUNDS", "3"))
    if "sides" not in out:
        runs = {name: [] for name in sides}
        for name, (idx, pt) in sides.items():  # one untimed warm-up each
            measure_point(spark, idx, q_df, qmat64, gt, pt["nprobe"], pt["k_factor"])
        for r in range(rounds):
            for name, (idx, pt) in sides.items():
                m = measure_point(
                    spark, idx, q_df, qmat64, gt, pt["nprobe"], pt["k_factor"]
                )
                runs[name].append(m["ms_per_query"])
                print(f"# round{r} {name}: {m}", file=sys.stderr)
        out["sides"] = {}
        for name, (idx, pt) in sides.items():
            ms = sorted(runs[name])
            out["sides"][name] = {
                **pt,
                "nlist": idx.nlist,
                "ms_median": ms[len(ms) // 2],
                "ms_min": ms[0],
                "ms_max": ms[-1],
                "runs": runs[name],
            }
        a, b = out["sides"]["parent1024"], out["sides"]["split4096"]
        # decision rule (h2h_nlist): medians' gap must exceed the
        # overlap of the observed intervals
        lo = max(a["ms_min"], b["ms_min"])
        hi = min(a["ms_max"], b["ms_max"])
        overlap = max(0.0, hi - lo)
        gap = abs(a["ms_median"] - b["ms_median"])
        if gap > overlap:
            out["winner"] = (
                "parent1024" if a["ms_median"] < b["ms_median"] else "split4096"
            )
            out["decided"] = True
        else:
            out["winner"] = None
            out["decided"] = False
        out["median_gap_ms"] = round(gap, 3)
        out["interval_overlap_ms"] = round(overlap, 3)
        # 1B-extrapolation inputs: scanned rows/query at the chosen
        # points (mean list length x nprobe)
        out["scan_model"] = {
            "parent_rows_per_query": int(N300 / NLIST * a["nprobe"]),
            "split_rows_per_query": int(N300 / (NLIST * SPLIT) * b["nprobe"]),
            "code_bytes_per_row": M_PQ + 8,
        }
        _dump_stamped(ev_path, out)

    print(json.dumps({**out, "kernel": KERNEL_VERSION}))


if __name__ == "__main__":
    main()
