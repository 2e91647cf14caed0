"""Auncel's error-profile system (ELP) as a stage-synchronous Spark job.

Reference (SURVEY.md §2.2 B15-B17, §2.3 O24-O28):
- offline: ``Error_sys::sys_train`` (``Auncel/profile.cpp:88-171``)
  runs the training queries at nprobe = 1,2,4,…,nlist/8, extracts
  (phi, U) pairs per stage (trace collection inside the search loop,
  ``IndexIVF.cpp:640-673``), then compresses each stage's pairs with
  sort-and-batch.
- online: ``Error_sys::search`` → the ELP loop
  (``IndexIVF.cpp:507-637``): scan probed lists in coarse order; after
  each list, predict recall from the geometric features; stop at the
  first stage where predicted recall ≥ the query's required recall;
  stagnation heuristic forces recall=1 when the running top-k stops
  improving; hard cap at nprobe = nlist/8.

Spark-first inversion (SURVEY §3.1, §7.3): instead of per-query
sequential probing inside a thread, the engine runs synchronized
stages nprobe ∈ {1,2,4,…,nlist/8}. Each stage:
1. builds the *delta* probe set (lists ranked [prev, cur)) for the
   still-active queries only — no list is ever scanned twice;
2. scans those lists distributed (the broadcast-queries GEMM kernel
   over the index's list store, the same ``scan_ranked`` as
   ``IVFIndex.search``),
   returning ≤ nq·k rows;
3. merges them into the running per-query top-k and evaluates the
   stop predicate vectorized in numpy;
4. drops satisfied queries from the next stage's active mask.

Semantic refinement vs the reference (documented in SURVEY §7.3): the
reference may stop at non-power-of-two stages; we stop at the next
stage boundary, i.e. never earlier — the error bound still holds, at
slightly more work. Per-query adaptivity becomes per-stage shrinkage
of the active set.

Scale: per-stage shuffle is O(active·k); driver state is
O(nq·max_topk) floats (4 MB at nq=5000, max_topk=100) — the same
magnitude the reference keeps in RAM. For huge query sets, shard the
query batch and run profiles per shard (the reference's distributed
mode does exactly this, ``dist/worker.cpp``).
"""

from __future__ import annotations

import json
import os
import time as _time

import numpy as np

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.config import ELP_STAGE_CAP_FRACTION, Metric
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.index.list_store import REFINE_PAD, qid_positions
from auncel_spark.index.scan import (
    _merge_rows,
    assemble_states,
    reduce_bucketed,
    scan_ranked,
)
from auncel_spark.profile.geometry import boundary_distances, sum_angle
from auncel_spark.profile.traces import Trace, kscaling


# queries per training-sweep scan job: bounds the broadcast (inv_rank is
# nq·nlist int32) and the kernel state per task; larger sweeps run one
# job per shard over the same pruned scan
_QSHARD = 4096


def _subsweep(sweep: dict, mask: np.ndarray) -> dict:
    """Row-restricted view of a sweep (for holdout calibration)."""
    return {
        "qids": sweep["qids"][mask],
        "dtb": sweep["dtb"][mask],
        "stages": sweep["stages"],
        "states_d": [s[mask] for s in sweep["states_d"]],
        "states_i": [s[mask] for s in sweep["states_i"]],
    }


class ErrorProfile:
    """Per-index trained error profile + bounded adaptive search."""

    def __init__(
        self,
        index: IVFIndex,
        max_topk: int = 100,
        multipler: float = 1.0,
        std_m: float = 1.0,
    ):
        self.index = index
        self.max_topk = max_topk
        # calibration hyperparameters (O27, hyperparameter.txt / setparam)
        self.multipler = multipler
        self.std_m = std_m
        self.traces: list[Trace] = []

    # ------------------------------------------------------------------
    # shared machinery

    def _stages(self) -> list[int]:
        cap = max(1, self.index.nlist // ELP_STAGE_CAP_FRACTION)
        out, np_ = [], 1
        while np_ <= cap:
            out.append(np_)
            np_ <<= 1
        return out

    @property
    def state_k(self) -> int:
        """Kept-state width for the staged scans. Under the SQ8 coded
        scan replica the state is PADDED by the refine headroom: with
        the unpadded width, a config at topk == max_topk has a refine
        pool of exactly topk (zero padding), so code-space rank errors
        at the pool boundary truncate true top-k members the exact
        refine can never recover — measured at 10M replica-mode
        k100_b10: worst-case 0.90 (the entire miss budget) vs 0.99 on
        the flat scan with identical (multipler, std_m). Every
        predictor/calibration consumer slices state columns by the
        config's topk (≤ max_topk), so the extra tail columns feed ONLY
        the refine pool; flat-scan behavior is unchanged
        (state_k == max_topk when no codec is active)."""
        return self.max_topk + (REFINE_PAD if self.index.codec_active else 0)

    def _coarse(self, queries):
        """(qids, qmat, ranked, cdist, dtb) of a query DataFrame: one
        collect and one full-width coarse ranking."""
        qids, qmat = self.index._query_arrays(queries)
        # width from the index: zero cells decode to shape (0,)
        qmat = qmat.reshape(-1, self.index.d)
        ranked, cdist = self.index.coarse_rank(qids, qmat, self.index.nlist)
        dtb = boundary_distances(cdist, ranked, self.index.interdis, self.index.metric)
        return qids, qmat, ranked, cdist, dtb

    def _scan_buckets(
        self,
        qids: np.ndarray,
        qmat: np.ndarray,
        ranked: np.ndarray,
        edges: list[int],
        active: np.ndarray | None = None,
        hi_q: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """(nq, nb, state_k) per-bucket top-k dist/id arrays over the
        lists each query ranks in [edges[b], edges[b+1]) — one
        ``scan_ranked`` job, reduced distributed BEFORE collecting
        (per-partition partials are nq·k rows EACH; at hundreds of
        partitions the raw collect blows spark.driver.maxResultSize).
        Rows of inactive queries, and buckets a query did not reach,
        hold (inf, -1)."""
        sk = self.state_k
        store, codec = self.index._scanner()
        part = scan_ranked(
            store,
            qids,
            qmat,
            ranked,
            edges,
            sk,
            self.index.metric,
            self.index.nlist,
            active=active,
            codec=codec,
            hi_q=hi_q,
        )
        return assemble_states(reduce_bucketed(part, sk), qids, len(edges) - 1, sk)

    def _scan_delta(
        self,
        qids: np.ndarray,
        qmat: np.ndarray,
        ranked: np.ndarray,
        active: np.ndarray,
        lo: int,
        hi: int,
        state_d: np.ndarray,
        state_i: np.ndarray,
        hi_q: np.ndarray | None = None,
    ) -> None:
        """Scan the lists ranked [lo, hi) for the active queries and
        fold them into the running per-query top-k (state_d, state_i) —
        ids are globally unique per list, so no dedup is needed.
        ``hi_q``: per-query exclusive bound (see scan_ranked) — used to
        scan every query to its own known target in ONE job."""
        new_d, new_i = self._scan_buckets(qids, qmat, ranked, [lo, hi], active, hi_q)
        rows = np.where(active)[0]
        _merge_rows(state_d, state_i, rows, new_d[rows, 0], new_i[rows, 0])

    def _tval(self, dists: np.ndarray) -> np.ndarray:
        """Candidate distances in phi space: L2 → squared L2 as-is; IP →
        arccos of the dot (engine dist = −dot), as the reference feeds
        acos(simi) (IndexIVF.cpp:563-565)."""
        if self.index.metric == Metric.L2:
            return dists
        return np.arccos(np.clip(-dists, -1.0, 1.0))

    # ------------------------------------------------------------------
    # offline training (B15-B17)

    def fit(self, train_queries: DataFrame, gt_dists: np.ndarray | None = None):
        """Build per-stage phi→U traces from training queries.

        gt_dists: (nq, max_topk) true sorted distances (engine
        convention). Computed with an exact scan when omitted.
        Single sweep: the running top-k state after scanning delta
        lists at stage s IS the fixed-nprobe=s result — one pass
        yields every stage (the reference re-searches from scratch per
        nprobe, profile.cpp:100-149).
        """
        if gt_dists is None:
            gt_dists = self._exact_gt(train_queries)
        sweep = self._sweep_states(train_queries, self._stages())
        self._traces_from_sweep(sweep, self._align_gt(gt_dists, sweep["qids"]))
        return self

    def _all_stages(self) -> list[int]:
        out, s = [], 1
        while s <= self.index.nlist:
            out.append(s)
            s <<= 1
        return out

    def _stage_depth(self, target: np.ndarray) -> np.ndarray:
        """Lists the stage ladder scans for a query whose stop target
        is ``target``: the ladder retires a query at the first stage
        boundary >= its target, so the depth is the target rounded UP to
        a power of two, capped at the ladder's last stage."""
        return np.minimum(
            np.exp2(np.ceil(np.log2(np.maximum(target, 1)))).astype(np.int64),
            self._all_stages()[-1],
        )

    def _traces_from_sweep(self, sweep: dict, gt_dists: np.ndarray) -> None:
        max_collect = max(1, self.max_topk // 4)
        self.traces = []
        for si, st in enumerate(self._stages()):
            state_d = sweep["states_d"][si]
            tvals = self._tval(state_d)
            self.traces.append(
                self._collect_stage_pairs(
                    state_d, tvals, gt_dists, sweep["dtb"], st, max_collect
                )
            )

    def _calibrate_on_sweep(
        self,
        sweep: dict,
        gt_dists: np.ndarray,
        topk: int,
        bound: float,
        std_m_grid: tuple[float, ...],
        multipler_grid: tuple[float, ...],
    ) -> dict:
        """Grid-fit (multipler, std_m) by replaying stop rules on the
        pre-scanned sweep states — zero Spark jobs per grid point. Picks
        the cheapest (mean-nprobe) config whose worst-case training
        recall meets 1 − bound (eval/bound.cpp:404-414 criterion)."""
        gt_kth = gt_dists[:, topk - 1]
        saved = (self.multipler, self.std_m)
        best = None
        # predicted recall depends only on (stage, topk, std_m) and is
        # row-independent — memoize across the multipler grid and
        # across bounds sharing a topk (108 simulate calls → 33 unique
        # prediction sets at the default grids)
        pred_cache = sweep.setdefault("_pred_cache", {})
        for mult in multipler_grid:
            for sm in std_m_grid:
                self.multipler, self.std_m = mult, sm
                chosen = self._simulate_targets(
                    sweep, topk, 1.0 - bound, pred_cache
                )
                minf, cost = self._simulated_quality(sweep, chosen, topk, gt_kth)
                if minf >= 1.0 - bound and (best is None or cost < best["cost"]):
                    best = {"multipler": mult, "std_m": sm, "cost": cost, "minf": minf}
        self.multipler, self.std_m = saved
        if best is None:  # fall back to the most conservative setting
            best = {
                "multipler": multipler_grid[-1],
                "std_m": std_m_grid[-1],
                "cost": float("nan"),
                "minf": float("nan"),
            }
        return best

    def fit_and_calibrate(
        self,
        train_queries: DataFrame,
        topk: int,
        bound: float,
        gt_dists: np.ndarray | None = None,
        std_m_grid: tuple[float, ...] = (1.0, 2.0, 4.0),
        multipler_grid: tuple[float, ...] = (1.0, 2.0, 4.0, 8.0),
    ) -> dict:
        """fit + calibrate sharing ONE full stage sweep: trace building
        uses the stage-prefix states, calibration replays stop rules on
        the same snapshots. The sweep's FINAL state covers every list,
        so it IS the exact ground truth — no separate GT scan, and no
        row-alignment hazard (one corpus pass total)."""
        sweep = self._sweep_states(train_queries, self._all_stages())
        if gt_dists is None:
            gt_dists = sweep["states_d"][-1].copy()
        else:
            gt_dists = self._align_gt(gt_dists, sweep["qids"])
        self._traces_from_sweep(sweep, gt_dists)
        best = self._calibrate_on_sweep(
            sweep, gt_dists, topk, bound, std_m_grid, multipler_grid
        )
        self.multipler, self.std_m = best["multipler"], best["std_m"]
        return best

    def fit_and_calibrate_many(
        self,
        train_queries: DataFrame,
        configs: list[tuple[int, float]],
        std_m_grid: tuple[float, ...] = (1.0, 2.0, 4.0),
        multipler_grid: tuple[float, ...] = (1.0, 2.0, 4.0, 8.0),
        safety: float = 1.0,
    ) -> dict:
        """One sweep, one trace build, N (topk, bound) calibrations —
        the reference keeps one hyperparameter.txt row per workload
        (IVF_pro.cpp:240-256); this returns the whole table in one
        corpus pass. Returns {(topk, bound): best_params}; the caller
        sets self.multipler/std_m per workload before searching.

        ``safety`` < 1 tightens the calibration target to
        bound·safety: the worst-case criterion is evaluated on UNSEEN
        test queries, and the cheapest config that exactly meets the
        bound on the training set routinely dips below it out of
        sample. Calibrating against half the bound (safety=0.5) buys
        the generalization margin at a modest nprobe cost.

        Holdout: with at least 64 training queries, traces are fitted
        on the even-index half and every grid config is scored on the
        odd half — the config never sees its own validation queries,
        which kills the winner's-curse failure mode (the cheapest config
        that looks perfect in-sample is systematically the one that
        overfits)."""
        sweep = self._sweep_states(train_queries, self._all_stages())
        gt_dists = sweep["states_d"][-1].copy()
        nq = len(sweep["qids"])
        if nq >= 64:
            fit_m = np.arange(nq) % 2 == 0
            val_m = ~fit_m
        else:
            fit_m = val_m = np.ones(nq, dtype=bool)
        self._traces_from_sweep(_subsweep(sweep, fit_m), gt_dists[fit_m])
        val_sweep = _subsweep(sweep, val_m)
        return {
            (topk, bound): self._calibrate_on_sweep(
                val_sweep, gt_dists[val_m], topk, bound * safety,
                std_m_grid, multipler_grid,
            )
            for topk, bound in configs
        }

    def _sweep_states(self, queries: DataFrame, stages: list[int]) -> dict:
        """Every stage's running top-k from ONE bucketed scan job (per
        ``_QSHARD`` queries): the kernel emits per-(query, stage-bucket) task
        partials, a window reduces them globally, and the cumulative
        per-stage states are assembled by merging buckets in order on
        the driver (nq·nstages·k floats — the same state the reference
        accumulates inside its sequential loop). Shared by fit (trace
        extraction needs every stage) and calibrate (stop-rule
        simulation replays stages in numpy with zero extra Spark jobs).
        """
        qids, qmat, ranked, cdist, dtb = self._coarse(queries)
        nq = len(qids)
        arr_d = np.empty((nq, len(stages), self.state_k))
        arr_i = np.empty((nq, len(stages), self.state_k), dtype=np.int64)
        for s0 in range(0, nq, _QSHARD):
            sl = slice(s0, min(s0 + _QSHARD, nq))
            arr_d[sl], arr_i[sl] = self._scan_buckets(
                qids[sl], qmat[sl], ranked[sl], [0, *stages]
            )
        # cumulative merge: state after stage si = best-k over buckets 0..si
        state_d = np.full((nq, self.state_k), np.inf)
        state_i = np.full((nq, self.state_k), -1, dtype=np.int64)
        allrows = np.arange(nq)
        states_d, states_i = [], []
        for si in range(len(stages)):
            _merge_rows(state_d, state_i, allrows, arr_d[:, si], arr_i[:, si])
            states_d.append(state_d.copy())
            states_i.append(state_i.copy())
        return {
            "qids": qids,
            "qmat": qmat,
            "cdist": cdist,
            "dtb": dtb,
            "stages": list(stages),
            "states_d": states_d,
            "states_i": states_i,
        }

    def _collect_stage_pairs(
        self,
        state_d: np.ndarray,
        tvals: np.ndarray,
        gt_dists: np.ndarray,
        dtb: np.ndarray,
        stage: int,
        max_collect: int,
    ) -> Trace:
        from auncel_spark.profile.traces import kscaling_batch

        rows, ranks, us = kscaling_batch(state_d, gt_dists, max_collect)
        if len(rows) == 0:
            return Trace.from_pairs(stage, np.array([]), np.array([]))
        # one sum_angle call over all (query, rank) pairs — pair order
        # (query-major, rank-ascending) matches the per-query loop, so
        # SB batching sees the identical sequence
        phis = sum_angle(tvals[rows, ranks][:, None], dtb[rows], stage - 1)[:, 0]
        return Trace.from_pairs(stage, phis, us)

    def _exact_gt(self, queries: DataFrame) -> np.ndarray:
        """True sorted distances, rows ordered by ASCENDING qid (the
        engine-wide gt_dists convention — align to a sweep's collect
        order with ``_align_gt`` before pairing rows)."""
        from auncel_spark.operators.knn import knn_exact

        res = knn_exact(
            queries,
            self.index.data.select("id", "vec"),
            self.max_topk,
            self.index.metric,
        ).toPandas()
        qids = np.unique(res["qid"].to_numpy(dtype=np.int64))
        out = np.full((len(qids), self.max_topk), np.inf)
        out[qid_positions(qids, res["qid"]), res["pos"].to_numpy()] = res["dist"].to_numpy()
        return out

    @staticmethod
    def _align_gt(gt_dists: np.ndarray, sweep_qids: np.ndarray) -> np.ndarray:
        """Reorder ascending-qid gt rows to a sweep's qid order. The
        sweep follows ``queries.collect()`` order, which is NOT sorted
        once the query set spans multiple partitions — pairing by raw
        row index silently trains traces against the wrong ground
        truth (found at 200k rows; invisible on single-partition test
        data)."""
        order = np.argsort(sweep_qids, kind="stable")
        inv = np.empty_like(order)
        inv[order] = np.arange(len(order))
        # gt row j corresponds to the j-th smallest qid; sweep row i has
        # rank inv[i] among qids
        return gt_dists[inv]

    # ------------------------------------------------------------------
    # online bounded search (O24-O27)

    def search(
        self,
        queries: DataFrame,
        topk: int,
        require_acc: np.ndarray | float,
        return_info: bool = False,
    ):
        """Error-bounded adaptive batch search.

        queries: DataFrame (qid, vec). require_acc: per-query required
        recall in [0,1] (scalar broadcasts). Returns a (qid, pos, id,
        dist) DataFrame of the per-query top-``topk``; with
        ``return_info`` also a dict with chosen nprobe per query.
        """
        if not self.traces:
            raise RuntimeError("ErrorProfile.fit must run before search")
        from auncel_spark.config import ELP_FUSE_PREFIX

        qids, qmat, ranked, cdist, dtb = self._coarse(queries)
        nq = len(qids)
        acc = np.broadcast_to(np.asarray(require_acc, dtype=np.float64), (nq,)).copy()
        state_d = np.full((nq, self.state_k), np.inf)
        state_i = np.full((nq, self.state_k), -1, dtype=np.int64)
        active = np.ones(nq, dtype=bool)
        # target[q] = my_nprobe once the stop rule fires (stage·multipler,
        # IndexIVF.cpp:615-626); scanning continues to the target, so a
        # multipler > 1 buys extra lists after the predictor is satisfied.
        target = np.zeros(nq, dtype=np.int64)
        # stagnation bookkeeping (IndexIVF.cpp:570-601): lists scanned
        # since the worst kept distance last improved
        prev_worst = np.full(nq, np.nan)
        stagnant = np.zeros(nq, dtype=np.int64)

        stages = self._stages()
        cap = stages[-1]
        # stage fusion: scan all stages <= ELP_FUSE_PREFIX as ONE
        # bucketed job up front; the per-stage loop then replays those
        # stages from the bucket arrays (merging only still-active
        # queries — exactly the unfused semantics) with zero extra jobs.
        fused = [st for st in stages if st <= ELP_FUSE_PREFIX]
        nbf = len(fused) if len(fused) > 1 else 0
        if nbf:
            fused_d, fused_i = self._scan_buckets(qids, qmat, ranked, [0, *fused])
        prev = 0
        s = 1
        si = 0
        while s <= self.index.nlist:
            if not active.any():
                break
            # extension collapse: once EVERY still-active query has its
            # stop target fixed, no further stop decisions are made —
            # the remaining ladder is pure scanning to per-query
            # targets. One per-query-bounded scan (hi_q) replaces the
            # log2(nlist/s) remaining stage jobs. The ladder retires a
            # query at the first stage boundary >= its target, so the
            # per-query bound is the target rounded UP to the next
            # executed stage (capped at the ladder's last stage) — the
            # scanned list set per query is identical, results bit-equal.
            if si >= nbf and not (active & (target == 0)).any():
                depth = self._stage_depth(target)
                hi_all = int(depth[active].max())
                self._scan_delta(
                    qids, qmat, ranked, active, prev, hi_all, state_d, state_i,
                    hi_q=depth,
                )
                active[:] = False
                break
            if si < nbf:
                rows = np.where(active)[0]
                _merge_rows(state_d, state_i, rows, fused_d[rows, si], fused_i[rows, si])
            else:
                self._scan_delta(qids, qmat, ranked, active, prev, s, state_d, state_i)
            # a query is undecided (target 0) only while it is active
            self._stop_step(
                state_d, dtb, si, s, prev, topk, acc, target, prev_worst, stagnant
            )
            # retire queries whose target is reached
            reached = active & (target > 0) & (target <= s)
            active[reached] = False
            prev = s
            s <<= 1
            si += 1

        result = self._refined_result(qids, qmat, state_d, state_i, topk)
        if return_info:
            return result, {"qid": qids, "nprobe": np.where(target > 0, target, cap)}
        return result

    def _refined_result(
        self,
        qids: np.ndarray,
        qmat: np.ndarray,
        state_d: np.ndarray,
        state_i: np.ndarray,
        topk: int,
    ):
        """Result materialization. Under the coded scan replica the
        kept state distances are SQ8-approximate, so the final top-k is
        re-ranked EXACTLY against the store's ``vec`` column (positioned
        reads of the candidate pool only — nq·(topk+pad) rows, not a corpus
        stream). This is what keeps the worst-case bound criterion
        (eval/bound.cpp:404-414 — returned dist vs true k-th) intact on
        a compressed scan path: the scan pays 1 byte/dim, the contract
        is settled in fp32."""
        if not self.index.codec_active:
            return self._state_to_df(qids, state_d, state_i, topk)
        pool = state_i[:, : topk + REFINE_PAD]
        return self.index.store.refine_topk(
            self.index.spark, qids, qmat, pool, topk, self.index.metric
        )

    def _predicted_recall(
        self,
        state_d_act: np.ndarray,
        dtb_act: np.ndarray,
        si: int,
        s: int,
        topk: int,
    ) -> np.ndarray:
        """The cur_num prediction (IVF_pro.cpp:258-291): first-check for
        full recall, then the largest m with (m)·U(phi(D_m)) ≤ topk."""
        cap = self._stages()[-1]
        tvals = self._tval(state_d_act)
        trace = self.traces[min(si, len(self.traces) - 1)]
        start = min(s, cap) - 1
        phi_last = sum_angle(tvals[:, topk - 1], dtb_act, start)
        u_last = trace.search(phi_last, self.std_m)
        full = topk * u_last <= topk * 1.005
        phi_all = sum_angle(tvals[:, :topk], dtb_act, start)
        u_all = trace.search(phi_all.ravel(), self.std_m).reshape(phi_all.shape)
        m = np.arange(1, topk + 1)[None, :]
        cond = m * u_all <= topk
        any_ok = cond.any(axis=1)
        last_ok = np.where(any_ok, topk - np.argmax(cond[:, ::-1], axis=1), 0)
        pre_num = np.where(full, topk, last_ok)
        return pre_num / float(topk)

    def calibrate(
        self,
        queries: DataFrame,
        topk: int,
        bound: float,
        gt_dists: np.ndarray | None = None,
        std_m_grid: tuple[float, ...] = (1.0, 2.0, 4.0),
        multipler_grid: tuple[float, ...] = (1.0, 2.0, 4.0, 8.0),
    ) -> dict:
        """O27 calibration, automated: the reference reads per-workload
        (multipler, std_m) rows from ``hyperparameter.txt``
        (``error_pro::setparam``, IVF_pro.cpp:240-256) that its authors
        tuned per dataset/figure. Here the same knobs are fitted by a
        grid sweep on the *training* queries — pick the cheapest
        (mean-nprobe) setting whose worst-case training recall meets
        1 − bound (the paper's own criterion, eval/bound.cpp:404-414).

        Cost: ONE full stage sweep (the states at every stage), then
        every grid point replays the stop rules in numpy — no extra
        Spark jobs per config.
        """
        if gt_dists is None:
            gt_dists = self._exact_gt(queries)
        # sweep all powers of two up to nlist so multipler targets
        # beyond the cap can be simulated too
        sweep = self._sweep_states(queries, self._all_stages())
        gt_dists = self._align_gt(gt_dists, sweep["qids"])
        best = self._calibrate_on_sweep(
            sweep, gt_dists, topk, bound, std_m_grid, multipler_grid
        )
        self.multipler, self.std_m = best["multipler"], best["std_m"]
        return best

    def _stop_step(
        self,
        state_d: np.ndarray,
        dtb: np.ndarray,
        si: int,
        s: int,
        prev: int,
        topk: int,
        acc: np.ndarray,
        target: np.ndarray,
        prev_worst: np.ndarray,
        stagnant: np.ndarray,
        pred_cache: dict | None = None,
    ) -> None:
        """The stop rule at stage ``s`` (previous stage ``prev``) for
        every undecided query (target 0), given each query's running
        top-k ``state_d`` after the stage: predict recall from the
        geometry, force recall 1 when the worst kept distance has not
        improved for ≥ require_acc·12 scanned lists (stagnation,
        IndexIVF.cpp:570-601), and fix target = stage·multipler for each
        satisfied query, or for all at the cap (IndexIVF.cpp:615-626).
        Updates ``target``, ``prev_worst`` and ``stagnant`` in place.
        ``pred_cache``: optional {(si, topk, std_m): recall_all_rows}
        memo — the prediction is row-independent, so the full-set value
        restricted to the undecided rows equals the direct call."""
        und = np.where(target == 0)[0]
        if len(und) == 0:
            return
        if pred_cache is not None:
            key = (si, topk, self.std_m)
            full = pred_cache.get(key)
            if full is None:
                full = pred_cache[key] = self._predicted_recall(
                    state_d, dtb, si, s, topk
                )
            recall = full[und]
        else:
            recall = self._predicted_recall(state_d[und], dtb[und], si, s, topk)
        worst = state_d[und, topk - 1]
        same = worst == prev_worst[und]
        stagnant[und] = np.where(same, stagnant[und] + (s - prev), 0)
        prev_worst[und] = worst
        recall = np.where(stagnant[und] >= acc[und] * 12.0, 1.0, recall)
        satisfied = (recall >= acc[und]) | (s >= self._stages()[-1])
        tgt = int(min(max(np.ceil(s * self.multipler), s), self.index.nlist))
        target[und[satisfied]] = tgt

    def _simulate_targets(
        self, sweep: dict, topk: int, require_acc: float, pred_cache: dict | None = None
    ) -> np.ndarray:
        """Replay the staged stop rules over pre-scanned states; returns
        per-query chosen nprobe (the same ``_stop_step`` as ``search``).
        ``pred_cache``: see ``_stop_step``."""
        cap = self._stages()[-1]
        nq = len(sweep["qids"])
        acc = np.full(nq, require_acc)
        target = np.zeros(nq, dtype=np.int64)
        prev_worst = np.full(nq, np.nan)
        stagnant = np.zeros(nq, dtype=np.int64)
        prev = 0
        for si, s in enumerate(sweep["stages"]):
            self._stop_step(
                sweep["states_d"][si], sweep["dtb"], si, s, prev, topk, acc,
                target, prev_worst, stagnant, pred_cache,
            )
            prev = s
        return np.where(target > 0, target, cap)

    def _simulated_quality(
        self, sweep: dict, chosen: np.ndarray, topk: int, gt_kth: np.ndarray
    ) -> tuple[float, float]:
        stages = np.array(sweep["stages"])
        si = np.minimum(
            np.searchsorted(stages, chosen, side="left"), len(stages) - 1
        )
        # (nb, nq, K) stack cached on the sweep — built once, replayed by
        # every calibration grid point
        sd = sweep.get("_stack_d")
        if sd is None:
            sd = sweep["_stack_d"] = np.stack(sweep["states_d"])
        d = sd[si, np.arange(len(chosen)), :topk]
        recs = (d <= gt_kth[:, None] + 1e-6).sum(axis=1) / topk
        return float(recs.min()), float(chosen.mean())

    def search_sharded(
        self,
        queries: DataFrame,
        topk: int,
        require_acc: float,
        shard_size: int = 50_000,
    ) -> DataFrame:
        """Bounded search over arbitrarily large query sets: process the
        query table in id-ordered shards so driver state stays at
        O(shard_size · max_topk) regardless of total query count — the
        batch analogue of the reference's distributed mode, where each
        round handles a bounded query batch (dist/worker.cpp:248).
        """
        n = queries.count()
        if n <= shard_size:
            return self.search(queries, topk, require_acc)
        from pyspark.sql import Window as W

        ranked = queries.withColumn(
            "_shard",
            F.floor((F.row_number().over(W.orderBy("qid")) - 1) / shard_size),
        ).cache()
        n_shards = ranked.agg(F.max("_shard")).collect()[0][0] + 1
        out = None
        for s in range(int(n_shards)):
            part = self.search(
                ranked.filter(F.col("_shard") == s).drop("_shard"), topk, require_acc
            )
            out = part if out is None else out.unionByName(part)
        return out

    def time_search(
        self,
        queries: DataFrame,
        topk: int,
        budget_ms: np.ndarray | float,
        return_info: bool = False,
        amortized: bool = False,
    ):
        """Latency-budgeted anytime search (O28,
        ``Error_sys::time_search``, profile.cpp:229-244; stop check
        IndexIVF.cpp:545-549). Batch adaptation: after each stage the
        per-stage cost model (elapsed so far + projected next-stage
        cost) retires queries whose budget would be exceeded — stop
        probing when elapsed ≥ 0.95·budget − per-probe cost estimate.

        ``amortized``: compare each query's budget against the
        PER-QUERY share of the batch wall clock (elapsed / nq) instead
        of the raw shared clock. This is the batch analogue of the
        reference's sequential per-query 5–50 ms budgets
        (eval/effect_time.cpp:274-279): a batch of nq queries with
        per-query budget b has aggregate budget nq·b. Without it,
        millisecond-scale budgets are meaningless against a shared
        clock that already exceeds them after one distributed stage.

        The stage ladder here is ``_all_stages()`` (doubling up to
        nlist), NOT the trace-capped ``_stages()`` ladder of the
        error-bounded mode: the time mode has no learned stop rule to
        outgrow, and the reference's loop probes until the budget or
        the index is exhausted (IndexIVF.cpp:545-549 checks only
        elapsed-vs-budget, never a probe cap). Found in r06: with the
        capped ladder an UNLIMITED budget retired at nprobe = nlist/8
        and a generous-budget search returned recall 0.35 — anytime
        semantics require budget → ∞ to converge to the exact scan.
        """
        qids, qmat, ranked, cdist, dtb = self._coarse(queries)
        nq = len(qids)
        budget = np.broadcast_to(np.asarray(budget_ms, dtype=np.float64), (nq,)).copy()
        state_d = np.full((nq, self.state_k), np.inf)
        state_i = np.full((nq, self.state_k), -1, dtype=np.int64)
        active = np.ones(nq, dtype=bool)
        chosen = np.zeros(nq, dtype=np.int64)
        retired_ms = np.zeros(nq)
        stages = self._all_stages()  # full ladder — see docstring
        prev = 0
        t0 = _time.perf_counter()
        s_idx = 0
        while s_idx < len(stages):
            s = stages[s_idx]
            if not active.any():
                break
            self._scan_delta(qids, qmat, ranked, active, prev, s, state_d, state_i)
            elapsed_ms = (_time.perf_counter() - t0) * 1000.0
            if amortized:
                elapsed_ms /= nq
            per_list = elapsed_ms / s
            act = np.where(active)[0]
            # predictive stop (the reference subtracts the next probe's
            # estimated cost from the budget, IndexIVF.cpp:545-549): the
            # NEXT stage adds s more lists, so retire any query whose
            # projected elapsed after it would bust the 0.95·budget
            # envelope — before paying for it, not after
            projected = elapsed_ms + per_list * s
            over = projected >= budget[act] * 0.95
            hard = s >= stages[-1]
            done = over | hard
            chosen[act[done]] = s
            retired_ms[act[done]] = elapsed_ms
            active[act[done]] = False
            prev = s
            # batched ladder: every survivor affords the next boundary
            # by the projection rule; with the SAME per-list estimate,
            # jump directly to the largest boundary the tightest active
            # budget still affords — one delta job instead of a chain
            # of per-boundary jobs (a generous budget reaches nlist in
            # one hop; tight budgets keep single steps and identical
            # per-boundary decisions).
            s_idx += 1
            if active.any() and s_idx < len(stages) - 1:
                min_b = float(budget[active].min()) * 0.95
                while (
                    s_idx < len(stages) - 1
                    and elapsed_ms + per_list * (stages[s_idx + 1] - s) < min_b
                ):
                    s_idx += 1
        result = self._refined_result(qids, qmat, state_d, state_i, topk)
        if return_info:
            return result, {"qid": qids, "nprobe": chosen, "retired_ms": retired_ms}
        return result

    def _state_to_df(
        self, qids: np.ndarray, state_d: np.ndarray, state_i: np.ndarray, topk: int
    ) -> DataFrame:
        """Columnar (Arrow) result materialization — a Python tuple list
        here is nq·topk driver objects per shard."""
        kk = min(topk, state_d.shape[1])
        ids = state_i[:, :kk]
        mask = (ids >= 0).ravel()
        pdf = pd.DataFrame(
            {
                "qid": np.repeat(qids, kk)[mask],
                "pos": np.tile(np.arange(kk, dtype=np.int32), len(qids))[mask],
                "id": ids.ravel()[mask],
                "dist": state_d[:, :kk].ravel()[mask],
            }
        )
        return self.index.spark.createDataFrame(
            pdf, "qid bigint, pos int, id bigint, dist double"
        )

    # ------------------------------------------------------------------
    # persistence

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "profile.json"), "w") as f:
            json.dump(
                {
                    "max_topk": self.max_topk,
                    "multipler": self.multipler,
                    "std_m": self.std_m,
                    "traces": [t.to_dict() for t in self.traces],
                },
                f,
            )

    @classmethod
    def load(cls, index: IVFIndex, path: str) -> "ErrorProfile":
        with open(os.path.join(path, "profile.json")) as f:
            d = json.load(f)
        ep = cls(index, d["max_topk"], d["multipler"], d["std_m"])
        ep.traces = [Trace.from_dict(t) for t in d["traces"]]
        return ep
