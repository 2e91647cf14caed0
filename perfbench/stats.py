"""Latency summaries and output checks, independent of the engine."""

from __future__ import annotations

import hashlib

import numpy as np

TAIL_KEEP = 10  # samples that must lie beyond a reported tail percentile


def tail(xs, keep: int = TAIL_KEEP) -> tuple[float, float, int]:
    """Highest percentile of ``xs`` that keeps at least ``keep`` samples
    beyond it: (value, percentile, samples beyond).

    With ``n > keep`` samples that is the order statistic at sorted
    position ``n - keep - 1`` (percentile ``100 * (n - keep) / n``).
    A run with no more than ``keep`` samples has no such percentile; it
    reports its maximum (percentile 100, nothing beyond), and the
    recorded percentile says so.
    """
    s = np.sort(np.asarray(xs, dtype=np.float64))
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n <= keep:
        return float(s[-1]), 100.0, 0
    i = n - keep - 1
    return float(s[i]), 100.0 * (n - keep) / n, n - 1 - i


def exact_knn(queries: np.ndarray, base: np.ndarray, k: int, block: int = 256):
    """Brute-force float64 L2 top-k: (ids (nq, k) int64, dists (nq, k)).
    Ties break by lower id, the engine's (dist, id) order."""
    b = base.astype(np.float64)
    bn = (b * b).sum(1)
    ids = np.empty((len(queries), k), dtype=np.int64)
    dists = np.empty((len(queries), k))
    for s0 in range(0, len(queries), block):
        q = queries[s0 : s0 + block].astype(np.float64)
        d = (q * q).sum(1)[:, None] + bn[None, :] - 2.0 * (q @ b.T)
        # the k+1 smallest, then (dist, id) order among them
        cand = np.argpartition(d, min(k, len(b) - 1), axis=1)[:, : k + 1]
        cd = np.take_along_axis(d, cand, axis=1)
        order = np.lexsort((cand, cd), axis=1)[:, :k]
        ids[s0 : s0 + len(q)] = np.take_along_axis(cand, order, axis=1)
        dists[s0 : s0 + len(q)] = np.take_along_axis(cd, order, axis=1)
    return ids, dists


def recall_rows(got_ids: np.ndarray, true_ids: np.ndarray, k: int) -> np.ndarray:
    """Per-query recall@k of ``got_ids`` (nq, >=k) against ``true_ids``."""
    return np.array(
        [len(set(g[:k].tolist()) & set(t[:k].tolist())) / k for g, t in zip(got_ids, true_ids)]
    )


def check_result(pdf, qids: np.ndarray, k: int, corpus: np.ndarray, qmat: np.ndarray):
    """Structural check of one batch's (qid, pos, id, dist) result.

    Returns (ids (nq, k) or None, list of problems). A query with fewer
    than ``k`` rows, an unknown id, unsorted rows or a distance that is
    not the true distance of (query, id) is a problem.
    """
    problems: list[str] = []
    ids = np.full((len(qids), k), -1, dtype=np.int64)
    qpos = {int(q): i for i, q in enumerate(qids)}
    if len(pdf) != len(qids) * k:
        problems.append(f"{len(pdf)} rows for {len(qids)} queries x k={k}")
    pdf = pdf.sort_values(["qid", "pos"])
    for qid, grp in pdf.groupby("qid"):
        i = qpos.get(int(qid))
        if i is None:
            problems.append(f"unknown qid {qid}")
            continue
        if len(grp) != k or list(grp["pos"]) != list(range(k)):
            problems.append(f"qid {qid}: positions {list(grp['pos'])[:5]}... of {len(grp)}")
            continue
        gid = grp["id"].to_numpy(dtype=np.int64)
        if gid.min() < 0 or gid.max() >= len(corpus) or len(set(gid.tolist())) != k:
            problems.append(f"qid {qid}: invalid or repeated ids")
            continue
        diff = corpus[gid].astype(np.float64) - qmat[i].astype(np.float64)
        true_d = (diff * diff).sum(1)
        got_d = grp["dist"].to_numpy(dtype=np.float64)
        if not np.allclose(got_d, true_d, rtol=1e-6, atol=1e-6):
            problems.append(f"qid {qid}: distances differ from the true distances")
            continue
        if np.any(np.diff(got_d) < -1e-9):
            problems.append(f"qid {qid}: rows not sorted by distance")
            continue
        ids[i] = gid
    missing = set(qpos) - {int(q) for q in pdf["qid"].unique()}
    if missing:
        problems.append(f"{len(missing)} queries without rows")
    return ids, problems


def oracle_nprobe(
    ranked: np.ndarray, true_lists: np.ndarray, k: int, bound: float
) -> np.ndarray:
    """Smallest nprobe per query whose first lists (coarse order
    ``ranked``, (nq, nlist)) hold enough of the true top-k to meet
    recall ``1 - bound``. ``true_lists`` (nq, k) is each true
    neighbour's list."""
    need = int(np.ceil((1.0 - bound) * k - 1e-9))
    nq, nlist = ranked.shape
    rank_of = np.empty_like(ranked)
    rank_of[np.arange(nq)[:, None], ranked] = np.arange(nlist)[None, :]
    nb_rank = np.sort(np.take_along_axis(rank_of, true_lists[:, :k], axis=1), axis=1)
    return nb_rank[:, need - 1] + 1 if need > 0 else np.ones(nq, dtype=np.int64)


def frame_digest(pdf, cols=("doc_id", "cluster_id", "cluster_size")) -> str:
    """Order-independent SHA-256 of the rows of ``pdf`` over ``cols``."""
    rows = sorted(tuple(int(x) for x in r) for r in pdf[list(cols)].itertuples(index=False))
    return hashlib.sha256(repr(rows).encode()).hexdigest()
