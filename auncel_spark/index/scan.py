"""Broadcast-queries GEMM scan kernels over IVF posting lists.

Reference: the InvertedListScanner loop (``Auncel/IndexIVF.cpp:439-475``)
visits each probed list once and scores its vectors against the ONE
query owning the scan. The round-1 Spark translation joined probes to
lists, which duplicates every base vector per probing query — at 5000
training queries over a 1M corpus that is 5·10⁹ joined rows (~4 TB of
vector payload through Arrow). These kernels restore the reference's
asymptotics, distributed:

- the lists live in the index's list store (index/list_store.py): one
  list-ordered file per column in which list l is the contiguous row
  range ``[offsets[l], offsets[l+1])``, as in the reference's
  ``OnDiskInvertedLists`` (``Auncel/OnDiskInvertedLists.h:51-110``);
- one Spark job of ``defaultParallelism`` tasks scans the probed lists.
  The broadcast gives each task a contiguous run of them, balanced by
  row count from ``offsets``: no file listing, no sampling job, no
  shuffle before the kernel. Each task memmaps its scanner's column,
  issues one ``POSIX_FADV_WILLNEED`` per contiguous byte range of its
  run, and reads each list's slice once, however many queries probe it;
- the query matrix + a per-query list→rank table are broadcast (a few
  MB at nq=5000, nlist=1024 — shard bigger query batches);
- each task computes real BLAS GEMMs (list block × all probing queries)
  and keeps a running per-query top-k in numpy, emitting one partial
  top-k per task, not per (query, list);
- a window reduce (operators/topk.py) merges task partials.

One kernel, ``scan_ranked``: a query's probe order is its ranked list
of centroids, and one pass emits partials per (query, rank bucket),
where bucket si covers ranks [edges[si], edges[si+1]). A fixed-nprobe
search is the one-bucket case ``[0, nprobe]``; the ELP training sweep
and the fused early stages of the online bounded search use one bucket
per stage (every stage's state from ONE job, the stage-fusion the
reference gets for free inside its sequential loop,
``IndexIVF.cpp:526-536``); the ELP per-stage delta scan is the bucket
[prev, stage).

Every list codec runs through that one loop. As the reference's index
types each supply only an ``InvertedListScanner``
(``Auncel/IndexIVF.h:316-358``), a scanner here supplies only the store
column it reads, the decode of a list's rows, and a per-task scorer of
(queries × decoded rows) distances: fp32 vectors (``FlatScanner``), the
SQ8 scan replica (``SQ8Scanner``), IVF-SQ codes (``SQScanner``), PQ
codes by ADC (``PQScanner``) and packed bits by popcount
(``HammingScanner``).

Shuffle volume is O(tasks · touched-queries · k), independent of corpus
size; scan I/O is the probed lists, once. Store reads are memmap reads,
not Spark input, so Spark's input metrics read about 0 for a scan.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auncel_spark.config import Metric
from auncel_spark.index.list_store import qid_positions


BUCKET_SCHEMA = "qid bigint, si int, id bigint, dist double"


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
    score, sel: np.ndarray, rows: np.ndarray, ids: np.ndarray, ln: int, k: int
):
    """Partial top-k tiles over BOTH dimensions of the (sel × list)
    distance computation ``score(sel, rows, ln)``. Query tiles keep
    blocks ~_TILE_ELEMS; the list-dimension chunk bounds the block even
    when one skewed list holds millions of rows (the 64-query floor
    alone would allow a ~5 GB block at nL=10M). Yields (q0, ss, nd, ni)
    partial top-k per chunk — exact after downstream (dist, id) lexsort
    merging."""
    lchunk = max(4096, _TILE_ELEMS // 64)
    for ls in range(0, rows.shape[0], lchunk):
        rows_c, ids_c = rows[ls : ls + lchunk], ids[ls : ls + lchunk]
        q0 = 0
        for ss in _query_tiles(sel, rows_c.shape[0]):
            nd, ni = _group_topk(score(ss, rows_c, ln), ids_c, k)
            yield q0, ss, nd, ni
            q0 += len(ss)


def _dist_block(
    qmat_sel: np.ndarray, qn_sel: np.ndarray, mat: np.ndarray, metric: Metric
) -> np.ndarray:
    dots = qmat_sel @ mat.T
    if metric == Metric.L2:
        return qn_sel[:, None] + (mat * mat).sum(axis=1)[None, :] - 2.0 * dots
    return -dots


# --- scanners: what each list codec supplies to the one loop ----------
#
# ``col``: the store column read. ``decode(rows)``: one list's (n,
# width) store rows as the array ``score`` takes. ``kernel(qmat,
# metric)``: called once per task, returns ``score(sel, rows, list_no)``
# → the (len(sel) × len(rows)) ascending distances of queries ``sel``
# to one list's rows.


class FlatScanner:
    """fp32 ``vec`` lists, scored by a float64 GEMM — the exactness
    source of IVF-Flat, ELP and LAET."""

    col = "vec"
    dtype = np.float64

    def decode(self, rows: np.ndarray) -> np.ndarray:
        return np.asarray(rows, dtype=np.float64)

    def kernel(self, qmat: np.ndarray, metric: Metric):
        bq = np.asarray(qmat, dtype=np.float64).astype(self.dtype, copy=False)
        qn = (bq * bq).sum(axis=1)
        return lambda sel, rows, ln: _dist_block(bq[sel], qn[sel], rows, metric)


class SQ8Scanner(FlatScanner):
    """The SQ8 scan replica of an IVF-Flat store (its ``code`` column,
    ``IVFIndex.build_scan_replica``): codes·scale + off — one fused
    multiply-add per element against 4x less scan IO (exactness
    restored downstream by the exact refine against ``vec``).

    float32 end-to-end: the flat scan's f64 GEMM is the exactness source
    in flat mode, but here exactness is settled downstream by the fp32
    refine and the SQ8 step (~1e-2 of typical distances) dwarfs
    f32 rounding (~1e-6 relative). f64 decode allocated an 8x-expanded
    temporary and ran the GEMM at half BLAS throughput for precision the
    path cannot use — measured as the warm-grid regression vs the flat
    scan at 100M (20.9 vs 15.8 ms/q mean)."""

    col = "code"
    dtype = np.float32

    def __init__(self, off: np.ndarray, scale: np.ndarray):
        self.off, self.scale = off, scale

    def decode(self, rows: np.ndarray) -> np.ndarray:
        mat = rows.astype(np.float32)
        mat *= np.asarray(self.scale, dtype=np.float32)[None, :]
        mat += np.asarray(self.off, dtype=np.float32)[None, :]
        return mat


class SQScanner(FlatScanner):
    """IVF-SQ lists: ``ScalarQuantizer`` codes decoded to float64 once
    per list, then the flat GEMM (the reference's IVFScalarQuantizer
    scanner decodes inline, ``Auncel/IndexScalarQuantizer.h:90-150``)."""

    col = "code"

    def __init__(self, sq):
        self.sq = sq

    def decode(self, rows: np.ndarray) -> np.ndarray:
        return self.sq.decode_np(rows)


class PQScanner:
    """IVF-PQ lists: ADC by LUT gather-sum (``Auncel/IndexIVFPQ.h:34-130``).

    ``books`` (M, ksub, dsub). ``cents``: the encoding centroids of
    residual codes, None for plain codes. ``term2``: the precomputed
    query-independent (ncents, M, ksub) table of residual L2
    (``IVFPQIndex.precomputed_term2``), None to build each list's row in
    the task. ``enc_of`` (nlist,): the row of ``cents``/``term2`` a
    list's codes were ENCODED against — the split-list quantizer stores
    residuals vs the PARENT centroid while probing the finer child lists
    (``split_ivfpq_lists``); None is the identity. ``fp32``: float32 ADC
    arithmetic, as the reference engine computes it; float64 (IVFPQ's default)
    keeps boundary ordering bit-matched to the SQL oracles' float64
    replay for the hash-exact correctness gate.

    The query-dependent term3 LUT (−2·q_m·z for L2, −q_m·z for IP) is
    built lazily PER TASK, only for the queries that probe a list in
    task's run of lists."""

    col = "code"

    def __init__(self, books, cents, term2, enc_of, fp32):
        self.books, self.cents, self.term2 = books, cents, term2
        self.enc_of, self.fp32 = enc_of, fp32

    def decode(self, rows: np.ndarray) -> np.ndarray:
        return np.asarray(rows)

    def kernel(self, qmat: np.ndarray, metric: Metric):
        bq = np.asarray(qmat, dtype=np.float64)
        qn = (bq * bq).sum(axis=1)
        books = np.asarray(self.books, dtype=np.float64)
        cents, t2, enc_of = self.cents, self.term2, self.enc_of
        znorm = (books * books).sum(-1)  # (M, ksub)
        M, ksub, dsub = books.shape
        dt = np.float32 if self.fp32 else np.float64
        is_l2 = metric == Metric.L2
        # np.empty commits pages only for the rows actually touched
        t3 = np.empty((len(bq), M, ksub))
        t3_done = np.zeros(len(bq), dtype=bool)

        def score(sel: np.ndarray, codes: np.ndarray, ln: int) -> np.ndarray:
            """A fused LUT (term3 + term2) in gather layout (M, ksub,
            ns) plus the per-query term1, both in the ADC dtype."""
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
                    -(bq[sel] @ cents[el]) if cents is not None else np.zeros(len(sel))
                )
            # ROW-major gather: numpy's column fancy-index
            # (lut[:, m, :][:, codes_m]) measured 60 M gathers/s;
            # transposing the LUT so code values index ROWS of a
            # contiguous (ksub, ns) block runs 340 M/s (float64) /
            # 766 M/s (float32) on the same shapes — the per-task ADC
            # cost is this gather, so the layout IS the kernel.
            lutT = np.ascontiguousarray(lut.transpose(1, 2, 0), dtype=dt)
            acc = np.zeros((codes.shape[0], lutT.shape[2]), dtype=dt)
            for m in range(M):
                acc += lutT[m][codes[:, m]]
            return np.ascontiguousarray(acc.T) + np.asarray(term1, dtype=dt)[:, None]

        return score


class HammingScanner:
    """Binary IVF lists: packed ``bits`` scored by popcount
    (``Auncel/IndexBinaryIVF``, ``hamming.h``). ``qmat`` is the (nq,
    code_size) uint8 query bit matrix; ``metric`` is ignored."""

    col = "bits"

    def decode(self, rows: np.ndarray) -> np.ndarray:
        return np.asarray(rows)

    def kernel(self, qmat: np.ndarray, metric: Metric):
        from auncel_spark.index.binary import _hamming_matrix

        qb = np.asarray(qmat, dtype=np.uint8)
        return lambda sel, rows, ln: _hamming_matrix(qb[sel], rows).astype(np.float64)


def _task_runs(offsets: np.ndarray, lists, ntasks: int) -> list[np.ndarray]:
    """Split ascending list ids into at most ``ntasks`` contiguous runs
    of about equal row count (from the store's ``offsets``); empty lists
    are dropped. Each run is one contiguous row range of the store."""
    lists = np.asarray(lists, dtype=np.int64)
    lists = lists[offsets[lists + 1] > offsets[lists]]
    if len(lists) == 0:
        return []
    cum = np.cumsum(offsets[lists + 1] - offsets[lists])
    ntasks = max(1, min(ntasks, len(lists)))
    cuts = np.searchsorted(cum, cum[-1] * np.arange(1, ntasks) / ntasks) + 1
    bounds = np.unique(np.concatenate(([0], cuts, [len(lists)])))
    return [lists[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def scan_ranked(
    data,
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
    there is one bucket). ``data``: the index's ``ListStore``.
    ``codec``: the list scanner — None scans fp32 vectors
    (``FlatScanner``); any other scanner reads its ``col`` from the
    store.

    ``active``: optional mask of the queries to scan. ``hi_q``:
    optional per-query exclusive rank bound (clipped to edges[-1]) —
    one job scans each query exactly to its own target, so callers
    whose per-query probe depths are already known (LAET budgets, ELP
    post-stop extension targets) need ONE scan instead of a log2-deep
    ladder of stage jobs."""
    spark = SparkSession.active()
    store = data
    if codec is None:
        codec = FlatScanner()
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
    runs = _task_runs(store.offsets, np.unique(cols), spark.sparkContext.defaultParallelism)
    if not runs:
        return spark.createDataFrame([], BUCKET_SCHEMA)
    # bucket of rank r: index of the last edge <= r
    bucket_of_rank = np.searchsorted(np.asarray(edges), np.arange(hi), side="right") - 1
    nb = len(edges) - 1
    bc = spark.sparkContext.broadcast(
        (
            qids,
            np.asarray(qmat),
            inv,
            active.copy(),
            bucket_of_rank.astype(np.int32),
            codec,
            bhi,
            store,
            runs,
        )
    )

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bqids, bq, binv, bact, brank2b, scanner, bbhi, bstore, bruns = bc.value
        score = scanner.kernel(bq, metric)
        state_d = np.full((len(bqids), nb, k), np.inf)
        state_i = np.full((len(bqids), nb, k), -1, dtype=np.int64)
        touched = np.zeros((len(bqids), nb), dtype=bool)
        col, ids_all, offs = bstore.column(scanner.col), bstore.ids(), bstore.offsets
        for batch in batches:
            for t in batch.column(0).to_numpy():
                mine = bruns[int(t)]
                bstore.willneed(scanner.col, mine)
                for ln in mine.tolist():
                    r = binv[:, ln]
                    sel = np.where(bact & (r >= lo) & (r < bbhi))[0]
                    if len(sel) == 0:
                        continue
                    r0, r1 = int(offs[ln]), int(offs[ln + 1])
                    vals = scanner.decode(col[r0:r1])
                    ids = np.asarray(ids_all[r0:r1])
                    si_all = brank2b[r[sel]]
                    for q0, ss, nd, ni in _tiled_topk(score, sel, vals, ids, ln, k):
                        si = si_all[q0 : q0 + len(ss)]
                        for b in np.unique(si):
                            pick = si == b
                            rows = ss[pick]
                            _merge_rows(
                                state_d[:, b, :], state_i[:, b, :], rows, nd[pick], ni[pick]
                            )
                            touched[rows, b] = True
        if not touched.any():
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

    return spark.range(len(runs), numPartitions=len(runs)).mapInArrow(
        scan, schema=BUCKET_SCHEMA
    )


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
    qi = qid_positions(qids, pdf["qid"])
    arr_d[qi, pdf["si"].to_numpy(), pdf["pos"].to_numpy()] = pdf["dist"].to_numpy()
    arr_i[qi, pdf["si"].to_numpy(), pdf["pos"].to_numpy()] = pdf["id"].to_numpy(
        dtype=np.int64
    )
    return arr_d, arr_i
