"""Exact k-NN, range search, and candidate re-ranking.

Reference surface (SURVEY.md §2.3 O1–O5):
- ``knn_L2sqr`` / ``knn_inner_product`` (``Auncel/utils.h:196-207``) —
  brute-force top-k, SIMD or BLAS-GEMM path chosen by a size threshold
  (``Auncel/utils.h:186-187``).
- ``knn_L2sqr_by_idx`` (``Auncel/utils.h:224-235``) — distances only
  against given candidate ids (re-ranking).
- ``range_search_L2sqr`` (``Auncel/utils.h:254-267``) — all ids within
  a radius; CSR result (``AuxIndexStructures.h:31-50``) becomes a plain
  relational (qid, id, dist) table here.

One physical shape for every brute-force top-k in the engine
(``_flat_partials``): the queries are collected once and broadcast as a
numpy matrix; each base partition decodes its Arrow batches
(``mapInArrow`` — the list column's flat values buffer becomes the GEMM
matrix in one vectorized pass), scores row blocks with one BLAS GEMM
(or a popcount / ADC gather for coded bases), folds them into ONE
running (dist, id) top-k per task and emits it once — nq·k rows per
task instead of nq·|partition| — then a global window merge. Shuffle
volume is independent of base size. Exact kNN, multi-metric and
per-shard kNN, BaseShift, split-vector, Hamming, PQ-ADC, polysemous,
SDC and the streaming standing-query scorer are thin callers that
supply only the batch decode and the distance block. ``range_search``
is a filter, not a top-k, but shares the query broadcast, decode and
distance helper.

Scale note: the base is scanned exactly once with only (id, vec) read
from Parquet (column pruning); vectors are never collected to the
driver — only the query matrix (≤ a few MB) is broadcast.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.config import Metric
from auncel_spark.functions.vector import dist_expr, ids_mat_from_arrow
from auncel_spark.operators.topk import topk_per_query

RESULT_SCHEMA = "qid bigint, id bigint, dist double"


def _prep_queries(queries: DataFrame, qid_col: str, vec_col: str) -> DataFrame:
    return queries.select(F.col(qid_col).alias("qid"), F.col(vec_col).alias("_qvec"))


def _prep_base(base: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_bvec"))


def _metric_dist(
    metric: Metric, dots: np.ndarray, q_norms: np.ndarray, mat: np.ndarray
) -> np.ndarray:
    """Ascending engine distance of a (nq × rows) block from its dot
    products: L2 = |q|²+|b|²−2·dots, IP = −dots, COSINE = −cos."""
    if metric == Metric.L2:
        return q_norms + (mat * mat).sum(axis=1)[None, :] - 2.0 * dots
    if metric == Metric.COSINE:
        denom = np.sqrt(q_norms) * np.sqrt((mat * mat).sum(axis=1)[None, :])
        denom[denom == 0] = 1.0
        return -dots / denom
    return -dots


def _metric_kernel(metric: Metric) -> Callable:
    """Kernel factory for ``_flat_partials``: one metric's GEMM
    distance block against the broadcast query matrix."""

    def kernel(qmat):
        q_norms = (qmat * qmat).sum(axis=1)[:, None]
        return lambda mat: _metric_dist(metric, qmat @ mat.T, q_norms, mat)

    return kernel


def _block_rows(nq: int) -> int:
    """Base rows per scored block, sized so the (nq × block) distance
    matrix stays ~tens of MB (the reference tiles its BLAS calls the
    same way, bs_x/bs_y)."""
    return max(64, 4_000_000 // nq)


def _bcast_queries(queries: DataFrame, qdecode: Callable):
    """Collect the (qid, payload) query table once and broadcast
    ``qdecode``'s (qids, matrix) — the small side, like the reference's
    xq. None when there are no queries."""
    tbl = queries.toArrow()
    if tbl.num_rows == 0:
        return None
    batch = tbl.combine_chunks().to_batches()[0]
    return queries.sparkSession.sparkContext.broadcast(qdecode(batch))


def _flat_partials(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    kernel: Callable,
    decode: Callable = ids_mat_from_arrow,
    qdecode: Callable = ids_mat_from_arrow,
    schema: str = RESULT_SCHEMA,
    keys: tuple | None = None,
    row_key: Callable | None = None,
) -> DataFrame:
    """The brute-force top-k scan: per-task (dist, id) top-k partials
    of every query over ``base`` (reference BLAS path:
    ``knn_L2sqr_blas``-equivalent, Auncel/utils.cpp; partial per-thread
    heaps ``Heap.h:349-480``). Callers merge them with a window.

    ``queries`` is (qid, payload), decoded by ``qdecode`` into
    (qids, qmat) on the driver; ``decode`` turns a base Arrow batch
    into (ids, *cols). Per task, ``kernel(qmat)`` returns the scorer:
    ``score(*cols_block)`` → (nq × rows) ascending distances. Rows are
    scored in blocks of ``_block_rows(nq)`` and every block is folded
    into ONE running top-k state, emitted once per task — shuffle
    volume O(tasks·nq·k), any corpus size.

    ``keys`` = (column, values) keeps one state per value, emitted as a
    leading column. A score's key comes either from its rows —
    ``row_key(ids)`` gives each row's value index, and rows are split
    by key BEFORE blocking, so each key's blocks see exactly the rows a
    filtered scan would — or, without ``row_key``, from the kernel,
    whose scorer then returns one distance block per value.

    No queries → an empty ``schema`` frame, without launching a scan.
    """
    bc = _bcast_queries(queries, qdecode)
    if bc is None:
        return base.sparkSession.createDataFrame([], schema)
    kname, kvals = keys if keys is not None else (None, [None])
    by_kernel = keys is not None and row_key is None

    def scan(batches):
        import pyarrow as pa

        from auncel_spark.index.scan import _group_topk, _merge_rows

        qids, qmat = bc.value
        nq = len(qids)
        score = kernel(qmat)
        block = _block_rows(nq)
        rows_all = np.arange(nq)
        states = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if states is None:
                states = [
                    (np.full((nq, k), np.inf), np.full((nq, k), -1, dtype=np.int64))
                    for _ in kvals
                ]
            ids_b, *cols_b = decode(batch)
            if row_key is None:
                groups = [(0, ids_b, cols_b)]
            else:
                kb = row_key(ids_b)
                groups = []
                for g in range(len(kvals)):
                    m = kb == g
                    groups.append((g, ids_b[m], [c[m] for c in cols_b]))
            for g, ids_g, cols_g in groups:
                for s0 in range(0, len(ids_g), block):
                    ids = ids_g[s0 : s0 + block]
                    dists = score(*(c[s0 : s0 + block] for c in cols_g))
                    # a key comes from the rows (g) or the kernel (j),
                    # never both, so g + j indexes its state
                    for j, dist in enumerate(dists if by_kernel else [dists]):
                        # partial top-k MUST use the global (dist, id)
                        # order — a bare argpartition breaks ties
                        # arbitrarily and can evict a lower-id candidate
                        # that belongs in the global top-k
                        nd, ni = _group_topk(dist, ids, k)
                        sd, si = states[g + j]
                        _merge_rows(sd, si, rows_all, nd, ni)
        if states is None:
            return
        keep = [(si >= 0).ravel() for _, si in states]
        out = {
            "qid": np.concatenate([np.repeat(qids, k)[m] for m in keep]),
            "id": np.concatenate([si.ravel()[m] for (_, si), m in zip(states, keep)]),
            "dist": np.concatenate(
                [sd.ravel()[m] for (sd, _), m in zip(states, keep)]
            ),
        }
        if keys is not None:
            kcol = [np.repeat(v, int(m.sum())) for v, m in zip(kvals, keep)]
            out = {kname: np.concatenate(kcol), **out}
        yield pa.RecordBatch.from_pydict(out)

    return base.mapInArrow(scan, schema=schema)


def knn_exact(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: Metric = Metric.L2,
    strategy: str = "gemm",
    qid_col: str = "qid",
    q_vec_col: str = "vec",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Brute-force exact top-k. Returns (qid, pos, id, dist), pos 0-based,
    ordered by (dist, id) within each query (deterministic tie-break).
    ``strategy`` accepts only ``"gemm"``, the one scan path."""
    if strategy != "gemm":
        raise ValueError(f"unknown strategy {strategy!r}")
    partial = _flat_partials(
        _prep_queries(queries, qid_col, q_vec_col),
        _prep_base(base, id_col, vec_col),
        k,
        _metric_kernel(metric),
    )
    return topk_per_query(partial, k).select("qid", "pos", "id", "dist")


MULTI_SCHEMA = "metric string, qid bigint, id bigint, dist double"


def knn_exact_multi(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metrics: list[Metric],
    qid_col: str = "qid",
    q_vec_col: str = "vec",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Exact top-k under SEVERAL metrics from ONE base scan: the GEMM
    dot-product block is computed once per (query tile × base block)
    and every metric's distance derives from it — the same arithmetic
    as per-metric ``knn_exact``, so each metric's rows are bit-identical
    to the single-metric call. Returns (metric, qid, pos, id, dist);
    metric values are the enum values ("l2", "ip", "cosine"). A
    two-metric workload halves the corpus scan and the shuffle (guide
    §1.2: don't compute things twice)."""

    def kernel(qmat):
        q_norms = (qmat * qmat).sum(axis=1)[:, None]

        def score(mat):
            dots = qmat @ mat.T  # shared across metrics
            return [_metric_dist(m, dots, q_norms, mat) for m in metrics]

        return score

    partial = _flat_partials(
        _prep_queries(queries, qid_col, q_vec_col),
        _prep_base(base, id_col, vec_col),
        k,
        kernel,
        schema=MULTI_SCHEMA,
        keys=("metric", [m.value for m in metrics]),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("metric", "qid").orderBy(
        F.col("dist").asc(), F.col("id").asc()
    )
    return (
        partial.withColumn("pos", F.row_number().over(w) - 1)
        .filter(F.col("pos") < k)
        .select("metric", "qid", "pos", "id", "dist")
    )


SHARD_SCHEMA = "shard int, qid bigint, id bigint, dist double"


def knn_exact_shard_partials(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    n_shards: int,
    metric: Metric = Metric.L2,
    qid_col: str = "qid",
    q_vec_col: str = "vec",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Per-task top-k per id-modulo shard from ONE base scan.

    ``shard = id % n_shards``; each task keeps an independent
    (dist, id)-ordered top-k state PER SHARD (the per-shard searches of
    ``knn_exact(q, b.filter(id % n == s))`` folded into one pass), so n
    parity shards cost one corpus read instead of n (guide §1.2/§2.4).
    Rows within a batch are split by shard BEFORE blocking, so each
    shard's blocks see exactly the rows (in scan order) the filtered
    scan would have seen; the distance arithmetic per (query, row) is
    the elementwise GEMM formula and is independent of which other rows
    share a block. Returns task-level partials (shard, qid, id, dist) —
    a superset of each shard's global top-k, suitable for
    ``merge_topk`` (union + min-agg + window keeps the same winners as
    merging the per-shard exact top-k tables, because every per-shard
    top-k member is present in the partials).
    """
    ns = int(n_shards)
    return _flat_partials(
        _prep_queries(queries, qid_col, q_vec_col),
        _prep_base(base, id_col, vec_col),
        k,
        _metric_kernel(metric),
        schema=SHARD_SCHEMA,
        keys=("shard", [np.int32(s) for s in range(ns)]),
        row_key=lambda ids: ids % ns,
    )


def range_search(
    queries: DataFrame,
    base: DataFrame,
    radius: float,
    metric: Metric = Metric.L2,
    qid_col: str = "qid",
    q_vec_col: str = "vec",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """All base rows within ``radius`` (``Index.h:146-147`` semantics):
    L2 — squared L2 < radius; IP — dot > radius; COSINE — cosine
    similarity > radius. Returns (qid, id, dist) with dist in the
    metric's native sign (L2sq, dot or cosine).

    The query matrix is broadcast and the radius filter runs on the
    same GEMM distance blocks as ``knn_exact`` inside one shuffle-free
    ``mapInArrow`` base scan emitting only qualifying pairs
    (``range_search_L2sqr``'s BLAS path)."""
    q = _prep_queries(queries, qid_col, q_vec_col)
    b = _prep_base(base, id_col, vec_col)
    bc = _bcast_queries(q, ids_mat_from_arrow)
    if bc is None:
        return b.sparkSession.createDataFrame([], RESULT_SCHEMA)

    def scan(batches):
        import pyarrow as pa

        bqids, bq = bc.value
        score = _metric_kernel(metric)(bq)
        block = _block_rows(len(bqids))
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids_b, mat_b = ids_mat_from_arrow(batch)
            for s0 in range(0, len(ids_b), block):
                ids = ids_b[s0 : s0 + block]
                dist = score(mat_b[s0 : s0 + block])
                if metric == Metric.L2:
                    qi, bi = np.where(dist < radius)
                else:
                    dist = -dist  # native sign: the dot or the cosine
                    qi, bi = np.where(dist > radius)
                if len(qi) == 0:
                    continue
                yield pa.RecordBatch.from_pydict(
                    {"qid": bqids[qi], "id": ids[bi], "dist": dist[qi, bi]}
                )

    return b.mapInArrow(scan, schema=RESULT_SCHEMA)


def knn_by_ids(
    queries: DataFrame,
    base: DataFrame,
    candidates: DataFrame,
    k: int,
    metric: Metric = Metric.L2,
    qid_col: str = "qid",
    q_vec_col: str = "vec",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Re-rank: exact distances only against given (qid, id) candidate
    pairs (``knn_L2sqr_by_idx``, Auncel/utils.h:224-235; the refine
    stage of ``IndexRefineFlat``, Auncel/IndexFlat.h:101-132).

    ``candidates`` must have columns (qid, id). The join on id prunes
    the base scan to candidate rows before any distance is computed.
    This SQL re-rank serves the catalog's ``q_knn_rerank_subset``, whose
    oracle is float64 SQL; every index refine re-ranks through
    ``ListStore.refine_topk`` on the driver instead.
    """
    q = _prep_queries(queries, qid_col, q_vec_col)
    b = _prep_base(base, id_col, vec_col)
    cand = candidates.select(F.col(qid_col).alias("qid"), F.col(id_col).alias("id"))
    picked = b.join(cand, "id")  # row-pruning join first
    scored = picked.join(F.broadcast(q), "qid").select(
        "qid", "id", dist_expr("_qvec", "_bvec", metric).alias("dist")
    )
    return topk_per_query(scored, k).select("qid", "pos", "id", "dist")
