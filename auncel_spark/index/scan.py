"""Broadcast-queries GEMM scan kernels over IVF posting lists.

Reference: the InvertedListScanner loop (``Auncel/IndexIVF.cpp:439-475``)
visits each probed list once and scores its vectors against the ONE
query owning the scan. The round-1 Spark translation joined probes to
lists, which duplicates every base vector per probing query — at 5000
training queries over a 1M corpus that is 5·10⁹ joined rows (~4 TB of
vector payload through Arrow). These kernels restore the reference's
asymptotics, distributed:

- the (pruned) lists table is scanned ONCE — each vector crosses the
  Arrow boundary exactly one time regardless of how many queries probe
  its list;
- the query matrix + a per-query list→rank table are broadcast (a few
  MB at nq=5000, nlist=1024 — shard bigger query batches);
- each task computes real BLAS GEMMs (list block × all probing queries)
  and keeps a running per-query top-k in numpy, emitting one partial
  top-k per task, not per (query, list);
- a window reduce (operators/topk.py) merges task partials.

One flat-vector kernel, ``scan_ranked``: a query's probe order is its
ranked list of centroids, and one pass emits partials per (query, rank
bucket), where bucket si covers ranks [edges[si], edges[si+1]). A
fixed-nprobe search is the one-bucket case ``[0, nprobe]``; the ELP
training sweep and the fused early stages of the online bounded search
use one bucket per stage (every stage's state from ONE job, the
stage-fusion the reference gets for free inside its sequential loop,
``IndexIVF.cpp:526-536``); the ELP per-stage delta scan is the bucket
[prev, stage). ``scan_window_coded`` is the one-window scan of coded
(PQ/SQ/binary) lists.

Shuffle volume is O(tasks · touched-queries · k), independent of corpus
size; scan I/O is the pruned lists, once.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.config import Metric


WINDOW_SCHEMA = "qid bigint, id bigint, dist double"
BUCKET_SCHEMA = "qid bigint, si int, id bigint, dist double"
_SALT = 8  # skew-split fragments per list in the coded scan


def _inv_rank(ranked: np.ndarray, nlist: int, width: int) -> np.ndarray:
    """rank of each list per query, ``nlist`` (sentinel = never probed)
    for lists outside ranked[:, :width]."""
    nq = ranked.shape[0]
    width = min(width, ranked.shape[1])
    inv = np.full((nq, nlist), nlist, dtype=np.int32)
    rows = np.repeat(np.arange(nq), width)
    inv[rows, ranked[:, :width].ravel()] = np.tile(
        np.arange(width, dtype=np.int32), nq
    )
    return inv


def _binary_matrix(arr: pa.Array) -> np.ndarray:
    """(n, width) uint8 view of an equal-width Arrow binary column,
    read straight from the Arrow buffers — no per-row Python bytes
    objects (the 10-100× object-overhead class; VERDICT r02 Wrong #2).

    Handles Binary (int32 offsets), LargeBinary (int64), and
    FixedSizeBinary; falls back to the per-row path only if widths are
    ragged (never true for codes — code_size is fixed per index)."""
    n = len(arr)
    t = arr.type
    if pa.types.is_fixed_size_binary(t):
        w = t.byte_width
        data = np.frombuffer(arr.buffers()[1], dtype=np.uint8)
        return data[arr.offset * w : (arr.offset + n) * w].reshape(n, w)
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        odt = np.int32 if pa.types.is_binary(t) else np.int64
        offs = np.frombuffer(arr.buffers()[1], dtype=odt)[
            arr.offset : arr.offset + n + 1
        ]
        widths = np.diff(offs)
        if n and (widths == widths[0]).all():
            data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
            return data[offs[0] : offs[-1]].reshape(n, int(widths[0]))
    return np.stack([np.frombuffer(b, dtype=np.uint8) for b in arr.to_pylist()])


def _batch_arrays(batch: pa.RecordBatch, codec=None):
    """(ids, fp64 matrix, list_nos) from a scan batch. ``codec`` =
    (off, scale) decodes an SQ8 ``code`` binary column in place of the
    fp32 ``vec`` column: mat = codes·scale + off — one fused
    multiply-add per element against 4x less scan IO (the coded scan
    replica; exactness restored downstream by the refine sidecar)."""
    ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    vc = batch.column(1)
    n = len(vc)
    if codec is not None:
        # float32 end-to-end for the coded scan: the flat scan's f64
        # GEMM is the exactness source in flat mode, but here exactness
        # is settled downstream by the fp32 refine sidecar and the SQ8
        # step (~1e-2 of typical distances) dwarfs f32 rounding (~1e-6
        # relative). f64 decode allocated an 8x-expanded temporary and
        # ran the GEMM at half BLAS throughput for precision the path
        # cannot use — measured as the warm-grid regression vs the
        # flat scan at 100M (20.9 vs 15.8 ms/q mean).
        off, scale = codec
        codes = _binary_matrix(vc)
        mat = codes.astype(np.float32)
        mat *= np.asarray(scale, dtype=np.float32)[None, :]
        mat += np.asarray(off, dtype=np.float32)[None, :]
    else:
        flat = vc.flatten().to_numpy(zero_copy_only=False)
        mat = np.asarray(flat, dtype=np.float64).reshape(n, -1)
    lns = batch.column(2).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    return ids, mat, lns


def _merge_rows(
    state_d: np.ndarray,
    state_i: np.ndarray,
    rows: np.ndarray,
    new_d: np.ndarray,
    new_i: np.ndarray,
) -> None:
    """Fold (ns × kk) fresh candidates into the running top-k of the
    selected state rows. Vectorized per-row (dist, id) lexsort: stable
    argsort by id, then stable argsort by dist."""
    d = np.concatenate([state_d[rows], new_d], axis=1)
    i = np.concatenate([state_i[rows], new_i], axis=1)
    o1 = np.argsort(i, axis=1, kind="stable")
    d = np.take_along_axis(d, o1, axis=1)
    i = np.take_along_axis(i, o1, axis=1)
    o2 = np.argsort(d, axis=1, kind="stable")[:, : state_d.shape[1]]
    state_d[rows] = np.take_along_axis(d, o2, axis=1)
    state_i[rows] = np.take_along_axis(i, o2, axis=1)


# boundary-tie margin for the argpartition fast path: the partial
# selection is by dist alone, so up to _TIE_MARGIN extra rows are kept
# before the exact (dist, id) lexsort. Rows whose ties spill past the
# margin (kk-th distance still equal to the kk2-th — routine for
# integral Hamming or duplicate-PQ-code distances once lists grow) are
# detected and redone with the full-width exact lexsort, so the result
# is ALWAYS the deterministic (dist, id) order, not fixture-size luck.
_TIE_MARGIN = 16


def _group_topk(
    dist: np.ndarray, ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-k of a (ns × nL) distance block with global (dist,
    id) tie-break — the per-list partial heap. Wide blocks use
    argpartition + a small exact lexsort (a full-width lexsort was the
    dominant fit cost at 100M: O(nL log nL) per row for k ≪ nL), with
    a per-row exact fallback when boundary ties exceed the margin."""
    nL = dist.shape[1]
    kk = min(k, nL)
    if nL > kk + _TIE_MARGIN:
        # worthwhile whenever partition can drop ANY rows: lexsort is
        # O(nL log nL) per row, so even kk=1280 of nL=4096 (the
        # refine-pool k·k_factor shape) wins ~3x by sorting kk2 wide
        kk2 = kk + _TIE_MARGIN
        part = np.argpartition(dist, kk2 - 1, axis=1)[:, :kk2]
        pd = np.take_along_axis(dist, part, axis=1)
        pi = ids[part]
        sub = np.lexsort((pi, pd), axis=1)
        pd_s = np.take_along_axis(pd, sub, axis=1)
        pi_s = np.take_along_axis(pi, sub, axis=1)
        out_d, out_i = pd_s[:, :kk], pi_s[:, :kk]
        # exactness guard: if a row's kept kk-th distance equals the
        # kk2-th (the window max), equal-distance elements may exist
        # OUTSIDE the partition window and the id tie-break could be
        # wrong — redo exactly those rows with the full lexsort. When
        # the window max is strictly larger, every element tied at the
        # boundary is provably inside the window and the result is
        # already exact.
        # rows whose kept kk-th is +inf need no tie-exactness: every
        # finite element is provably inside the partition window
        # already, and inf entries are padding whose ids carry no meaning
        spill = (out_d[:, kk - 1] == pd_s[:, kk2 - 1]) & np.isfinite(
            out_d[:, kk - 1]
        )
        if spill.any():
            rows = np.nonzero(spill)[0]
            sel = np.lexsort(
                (np.broadcast_to(ids, (len(rows), nL)), dist[rows]), axis=1
            )[:, :kk]
            out_d[rows] = np.take_along_axis(dist[rows], sel, axis=1)
            out_i[rows] = ids[sel]
        return out_d, out_i
    sel = np.lexsort((np.broadcast_to(ids, dist.shape), dist), axis=1)[:, :kk]
    return np.take_along_axis(dist, sel, axis=1), ids[sel]


# query-tile size for distance blocks: keep each (tile × nL) float64
# block ~16 MB so it is produced, top-k'ed and discarded while still
# L3-resident — at 100M the untiled 5000-query block was 160 MB per
# batch and the fit became DRAM-bandwidth-bound (measured ~0.4 GFLOPs
# vs ~8 for cache-resident work on the same box)
_TILE_ELEMS = 2_000_000


def _query_tiles(sel: np.ndarray, n_rows: int):
    t = max(64, _TILE_ELEMS // max(n_rows, 1))
    for i in range(0, len(sel), t):
        yield sel[i : i + t]


def _tiled_topk(
    bq: np.ndarray,
    qn: np.ndarray,
    sel: np.ndarray,
    mat_m: np.ndarray,
    ids_m: np.ndarray,
    metric: Metric,
    k: int,
):
    """Partial top-k tiles over BOTH dimensions of the (sel × list)
    distance computation. Query tiles keep blocks ~_TILE_ELEMS; the
    list-dimension chunk bounds the block even when one skewed list
    holds millions of rows (the 64-query floor alone would allow a
    ~5 GB block at nL=10M). Yields (q0, ss, nd, ni) partial top-k per
    chunk — exact after downstream (dist, id) lexsort merging."""
    lchunk = max(4096, _TILE_ELEMS // 64)
    nL = mat_m.shape[0]
    for ls in range(0, nL, lchunk):
        mat_c, ids_c = mat_m[ls : ls + lchunk], ids_m[ls : ls + lchunk]
        q0 = 0
        for ss in _query_tiles(sel, mat_c.shape[0]):
            dist = _dist_block(bq[ss], qn[ss], mat_c, metric)
            nd, ni = _group_topk(dist, ids_c, k)
            yield q0, ss, nd, ni
            q0 += len(ss)


def _dist_block(
    qmat_sel: np.ndarray, qn_sel: np.ndarray, mat: np.ndarray, metric: Metric
) -> np.ndarray:
    dots = qmat_sel @ mat.T
    if metric == Metric.L2:
        return qn_sel[:, None] + (mat * mat).sum(axis=1)[None, :] - 2.0 * dots
    return -dots


def _pruned(data: DataFrame, probed_lists: list[int], coded: bool = False) -> DataFrame:
    vcol = "code" if coded else "vec"
    return (
        data.filter(F.col("list_no").isin(probed_lists))
        .select("id", vcol, F.col("list_no").cast("long"))
    )


def scan_ranked(
    data: DataFrame,
    qids: np.ndarray,
    qmat: np.ndarray,
    ranked: np.ndarray,
    edges: list[int],
    k: int,
    metric: Metric,
    nlist: int,
    active: np.ndarray | None = None,
    codec=None,
    hi_q: np.ndarray | None = None,
) -> DataFrame:
    """Partial top-k (qid, si, id, dist) per (query, rank bucket) in ONE
    scan of the lists ranked [edges[0], edges[-1]). Bucket si covers
    list ranks [edges[si], edges[si+1]); a fixed-nprobe search is the
    one-bucket case ``edges=[0, nprobe]``. Callers reduce with
    ``reduce_bucketed`` (or ``topk_per_query``, dropping ``si``, when
    there is one bucket). ``codec``: scan SQ8 codes instead of fp32
    vectors (see ``_batch_arrays``).

    ``active``: optional mask of the queries to scan. ``hi_q``:
    optional per-query exclusive rank bound (clipped to edges[-1]) —
    one job scans each query exactly to its own target, so callers
    whose per-query probe depths are already known (LAET budgets, ELP
    post-stop extension targets) need ONE scan instead of a log2-deep
    ladder of stage jobs."""
    spark = data.sparkSession
    nq = len(qids)
    lo = edges[0]
    hi = min(edges[-1], ranked.shape[1], nlist)
    if active is None:
        active = np.ones(nq, dtype=bool)
    act = np.where(active)[0]
    if len(act) == 0 or hi <= lo:
        return spark.createDataFrame([], BUCKET_SCHEMA)
    inv = _inv_rank(ranked, nlist, hi)
    cols = ranked[act, lo:hi]
    if hi_q is None:
        bhi = hi
    else:
        bhi = np.minimum(np.asarray(hi_q, dtype=np.int64), hi)
        mask = np.arange(lo, hi)[None, :] < bhi[act, None]
        if not mask.any():
            return spark.createDataFrame([], BUCKET_SCHEMA)
        cols = cols[mask]
    probed = np.unique(cols).tolist()
    # bucket of rank r: index of the last edge <= r
    bucket_of_rank = np.searchsorted(np.asarray(edges), np.arange(hi), side="right") - 1
    nb = len(edges) - 1
    bc = spark.sparkContext.broadcast(
        (
            qids,
            np.asarray(qmat, dtype=np.float64),
            inv,
            active.copy(),
            bucket_of_rank.astype(np.int32),
            codec,
            bhi,
        )
    )

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bqids, bq, binv, bact, brank2b, bcodec, bbhi = bc.value
        if bcodec is not None:
            bq = bq.astype(np.float32)  # f32 GEMM against f32 codes
        qn = (bq * bq).sum(axis=1)
        state_d = state_i = None
        touched = np.zeros((len(bqids), nb), dtype=bool)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if state_d is None:
                state_d = np.full((len(bqids), nb, k), np.inf)
                state_i = np.full((len(bqids), nb, k), -1, dtype=np.int64)
            ids, mat, lns = _batch_arrays(batch, bcodec)
            for ln in np.unique(lns):
                r = binv[:, int(ln)]
                sel = np.where(bact & (r >= lo) & (r < bbhi))[0]
                if len(sel) == 0:
                    continue
                m = lns == ln
                mat_m, ids_m = mat[m], ids[m]
                si_all = brank2b[r[sel]]
                for q0, ss, nd, ni in _tiled_topk(bq, qn, sel, mat_m, ids_m, metric, k):
                    si = si_all[q0 : q0 + len(ss)]
                    for b in np.unique(si):
                        pick = si == b
                        rows = ss[pick]
                        _merge_rows(
                            state_d[:, b, :], state_i[:, b, :], rows, nd[pick], ni[pick]
                        )
                        touched[rows, b] = True
        if state_d is None or not touched.any():
            return
        tq, tb = np.where(touched)
        keep = state_i[tq, tb] >= 0  # (nt, k)
        yield pa.RecordBatch.from_pydict(
            {
                "qid": np.repeat(bqids[tq], k)[keep.ravel()],
                "si": np.repeat(tb.astype(np.int32), k)[keep.ravel()],
                "id": state_i[tq, tb].ravel()[keep.ravel()],
                "dist": state_d[tq, tb].ravel()[keep.ravel()],
            }
        )

    return _pruned(data, probed, coded=codec is not None).mapInArrow(
        scan, schema=BUCKET_SCHEMA
    )


def scan_window_coded(
    data: DataFrame,
    qids: np.ndarray,
    qmat: np.ndarray | None,
    ranked: np.ndarray,
    lo: int,
    hi: int,
    k: int,
    metric: Metric,
    nlist: int,
    codec: dict,
    code_col: str = "code",
) -> DataFrame:
    """Partial top-k (qid, id, dist) over CODED lists (``(id, code
    BINARY, list_no)``) ranked [lo, hi) per query
    — the only search path of IVF-PQ, IVF-SQ and binary IVF, with
    scan-each-code-once asymptotics for compressed lists too (a
    probes join would ship every M-byte code once per probing query;
    at nprobe=128 over shared lists that is a ~100× payload blow-up
    even for codes).

    ``codec`` selects the in-task decoder:

    - ``{"kind": "sq", "sq": ScalarQuantizer.to_dict()}`` — each Arrow
      batch is decoded once to a float block, then scored with the same
      per-list GEMM as the raw-vector kernel (the reference's
      IVFScalarQuantizer scanner decodes inline,
      ``Auncel/IndexScalarQuantizer.h:90-150``).
    - ``{"kind": "pq", "books": (M,ksub,dsub), "cents": centroids|None,
      "term2": (nlist,M,ksub)|None}`` — ADC via LUT gather-sum
      (``Auncel/IndexIVFPQ.h:34-130``). The query-dependent term3 LUT
      (−2·q_m·z for L2, −q_m·z for IP) is computed lazily PER TASK and
      only for queries that actually probe a list in that task's
      partitions (partition pruning keeps this a small subset); the
      query-independent term2 rides in broadcast. Residual L2 requires
      ``term2`` (build it with ``IVFPQIndex.precomputed_term2``).
      Optional ``"enc_of": (nlist,) int`` maps a list to the row of
      ``cents``/``term2`` its codes were ENCODED against — the refined
      (split-list) quantizer stores residuals vs the PARENT centroid
      while probing the finer child lists, so cents/term2 stay sized by
      the parent count (``split_ivfpq_lists``).
    - ``{"kind": "hamming", "qbits": (nq, code_size) uint8}`` — packed
      binary codes scored by popcount (``Auncel/IndexBinaryIVF`` scan;
      ``hamming.h``). ``qmat``/``metric`` are ignored — the query BIT
      matrix rides in the codec.

    Callers window-reduce with ``topk_per_query``.
    """
    spark = data.sparkSession
    nq = len(qids)
    hi = min(hi, ranked.shape[1], nlist)
    if nq == 0 or hi <= lo:
        return spark.createDataFrame([], WINDOW_SCHEMA)
    inv = _inv_rank(ranked, nlist, hi)
    probed = sorted({int(x) for x in np.unique(ranked[:, lo:hi])})
    if qmat is None:  # hamming codec: queries ride in codec["qbits"]
        qmat = np.zeros((nq, 1))
    bc = spark.sparkContext.broadcast(
        (qids, np.asarray(qmat, dtype=np.float64), inv, codec)
    )
    is_l2 = metric == Metric.L2

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bqids, bq, binv, cdc = bc.value
        qn = (bq * bq).sum(axis=1)
        sq_dec = books = cents = t2 = znorm = qbits = enc_of = None
        t3 = t3_done = None
        if cdc["kind"] == "sq":
            from auncel_spark.index.sq import ScalarQuantizer

            sq_dec = ScalarQuantizer.from_dict(cdc["sq"])
        elif cdc["kind"] == "hamming":
            qbits = cdc["qbits"]
        else:
            books = np.asarray(cdc["books"], dtype=np.float64)
            cents = cdc.get("cents")
            t2 = cdc.get("term2")
            enc_of = cdc.get("enc_of")
            znorm = (books * books).sum(-1)  # (M, ksub)
            M, ksub, dsub = books.shape
            # ADC arithmetic dtype: float32 matches the reference
            # engine (Faiss computes ADC in float32 throughout) and
            # doubles gather/sort throughput; float64 (default) keeps
            # boundary ordering bit-matched to the SQL oracles'
            # float64 replay for the hash-exact correctness gate.
            dt = np.float32 if cdc.get("fp32") else np.float64
            # lazily-filled per-task term3 LUTs; np.empty commits pages
            # only for rows actually touched (queries probing this
            # task's lists)
            t3 = np.empty((len(bqids), M, ksub))
            t3_done = np.zeros(len(bqids), dtype=bool)
        state_d = state_i = None
        touched = np.zeros(len(bqids), dtype=bool)

        def pq_dist(sel: np.ndarray, codes_g: np.ndarray, ln: int) -> np.ndarray:
            """ADC distances (ns × nL) of queries ``sel`` against the
            codes of list ``ln``: a fused LUT (term3 + term2) in gather
            layout (M, ksub, ns) plus the per-query term1, both in the
            ADC dtype."""
            # encoding-centroid row for this list: identity unless the
            # codec carries a split-list parent map (refined quantizer)
            el = int(enc_of[ln]) if enc_of is not None else ln
            miss = sel[~t3_done[sel]]
            if len(miss):
                # per-m BLAS GEMMs — an einsum('qmd,mkd->qmk') here hits
                # numpy's generic-iterator path (no BLAS dispatch) and
                # measured ~40 ns/flop in executors vs ~0.5 ns for dgemm
                scale = -2.0 if is_l2 else -1.0
                qsub = bq[miss]
                for mm in range(M):
                    t3[miss, mm] = scale * (
                        qsub[:, mm * dsub : (mm + 1) * dsub] @ books[mm].T
                    )
                t3_done[miss] = True
            if is_l2:
                if cents is not None:
                    t2_ln = (
                        t2[el]
                        if t2 is not None
                        else znorm
                        + 2.0
                        * np.einsum("md,mkd->mk", cents[el].reshape(M, dsub), books)
                    )
                    diff = bq[sel] - cents[el]
                    term1 = (diff * diff).sum(axis=1)
                else:
                    t2_ln = znorm
                    term1 = qn[sel]
                lut = t3[sel] + t2_ln[None]
            else:
                lut = t3[sel]
                term1 = (
                    -(bq[sel] @ cents[el])
                    if cents is not None
                    else np.zeros(len(sel))
                )
            # ROW-major gather: numpy's column fancy-index
            # (lut[:, m, :][:, codes_m]) measured 60 M gathers/s;
            # transposing the LUT so code values index ROWS of a
            # contiguous (ksub, ns) block runs 340 M/s (float64) /
            # 766 M/s (float32) on the same shapes — the per-task ADC
            # cost is this gather, so the layout IS the kernel.
            lutT = np.ascontiguousarray(lut.transpose(1, 2, 0), dtype=dt)
            acc = np.zeros((codes_g.shape[0], lutT.shape[2]), dtype=dt)
            for m in range(M):
                acc += lutT[m][codes_g[:, m]]
            return np.ascontiguousarray(acc.T) + np.asarray(term1, dtype=dt)[:, None]

        for batch in batches:
            if batch.num_rows == 0:
                continue
            if state_d is None:
                state_d = np.full((len(bqids), k), np.inf)
                state_i = np.full((len(bqids), k), -1, dtype=np.int64)
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            codes = _binary_matrix(batch.column(1))
            lns = batch.column(2).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            mat = sq_dec.decode_np(codes) if sq_dec is not None else None
            for ln in np.unique(lns):
                r = binv[:, int(ln)]
                sel = np.where((r >= lo) & (r < hi))[0]
                if len(sel) == 0:
                    continue
                m = lns == ln
                if sq_dec is not None:
                    dist = _dist_block(bq[sel], qn[sel], mat[m], metric)
                elif qbits is not None:
                    from auncel_spark.index.binary import _hamming_matrix

                    dist = _hamming_matrix(qbits[sel], codes[m]).astype(np.float64)
                else:
                    nL = int(m.sum())
                    # tile sel so the (ns × nL) gather block stays
                    # bounded (STATUS kernel-memory discipline)
                    blk = max(1, 4_000_000 // max(nL, 1))
                    if len(sel) > blk:
                        dist = np.concatenate(
                            [
                                pq_dist(sel[i : i + blk], codes[m], int(ln))
                                for i in range(0, len(sel), blk)
                            ]
                        )
                    else:
                        dist = pq_dist(sel, codes[m], int(ln))
                nd, ni = _group_topk(dist, ids[m], k)
                _merge_rows(state_d, state_i, sel, nd, ni)
                touched[sel] = True
        if state_d is None or not touched.any():
            return
        t = np.where(touched)[0]
        keep = state_i[t] >= 0
        yield pa.RecordBatch.from_pydict(
            {
                "qid": np.repeat(bqids[t], k)[keep.ravel()],
                "id": state_i[t].ravel()[keep.ravel()],
                "dist": state_d[t].ravel()[keep.ravel()],
            }
        )

    # Salted skew split: Spark's size-sorted file bin-packing puts the
    # biggest lists — which are also the most-probed under clustered
    # queries — into the SAME task, and scan cost is
    # probes(list)·rows(list), so that task straggles (measured 85s vs
    # 2s siblings at 1M×nlist=1024). Hashing on (list_no, salt) over
    # the default parallelism splits each hot list _SALT ways while
    # keeping list locality (a task holds whole (list, salt) groups, so
    # per-list LUT state is built O(groups/task) times, not O(nlist)
    # times). Shuffle volume = the pruned CODES — M bytes/row, cheap.
    # sortWithinPartitions: the repartition interleaves a task's
    # ~(nlist·_SALT/tasks) groups row-by-row, so every Arrow batch
    # fragmented EVERY group into ~40-row slivers — and the scan pays
    # one k-wide state merge per (group, batch) fragment (measured:
    # ~8000 merges/task at 10M with k·kf=1280 states = the dominant ADC
    # cost). Sorting makes lists contiguous: one fragment per group per
    # batch boundary, ~30x fewer merges.
    pruned = (
        data.filter(F.col("list_no").isin(probed))
        .select("id", F.col(code_col), F.col("list_no").cast("long"))
        .repartition(
            spark.sparkContext.defaultParallelism,
            F.col("list_no"),
            F.pmod(F.col("id"), F.lit(_SALT)),
        )
        .sortWithinPartitions("list_no")
    )
    return pruned.mapInArrow(scan, schema=WINDOW_SCHEMA)


def reduce_bucketed(partial: DataFrame, k: int) -> "pd.DataFrame":
    """Global top-k per (qid, bucket) from task partials, collected via
    Arrow. Result size ≤ nq · nbuckets · k rows."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid", "si").orderBy(
        F.col("dist").asc(), F.col("id").asc()
    )
    return (
        partial.withColumn("pos", F.row_number().over(w) - 1)
        .filter(F.col("pos") < k)
        .toPandas()
    )


def assemble_states(
    pdf, qids: np.ndarray, nb: int, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(nq, nb, k) per-BUCKET dist/id arrays from a reduce_bucketed
    frame (cumulative merging is the caller's loop)."""
    nq = len(qids)
    arr_d = np.full((nq, nb, k), np.inf)
    arr_i = np.full((nq, nb, k), -1, dtype=np.int64)
    if len(pdf) == 0:
        return arr_d, arr_i
    qpos = {int(q): i for i, q in enumerate(qids)}
    qi = pdf["qid"].map(qpos).to_numpy(dtype=np.int64)
    arr_d[qi, pdf["si"].to_numpy(), pdf["pos"].to_numpy()] = pdf["dist"].to_numpy()
    arr_i[qi, pdf["si"].to_numpy(), pdf["pos"].to_numpy()] = pdf["id"].to_numpy(
        dtype=np.int64
    )
    return arr_d, arr_i
