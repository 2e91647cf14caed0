"""Binary vectors: packed bits, Hamming k-NN, binary IVF, LSH sketches.

Reference (SURVEY.md §2.3 O13-O14, §2.2 B14):
- ``IndexBinaryFlat`` (``Auncel/IndexBinaryFlat.h:21``): brute Hamming
  top-k over packed ``uint8`` bits, heap- or counter-based
  (``hammings_knn_hc/_mc``, ``Auncel/hamming.h:55-132``).
- ``IndexBinaryIVF`` (``Auncel/IndexBinaryIVF.h:35``): IVF shell over
  binary codes.
- ``IndexBinaryFromFloat`` (``Auncel/IndexBinaryFromFloat.h:28``):
  float index serving binary vectors.
- LSH sketch (``IndexLSH``, ``Auncel/IndexLSH.h:22``): random-rotation
  sign bits of float vectors → binary codes.

Spark shape: bits live in a ``BINARY`` column (d/8 bytes); Hamming
kernels are numpy popcounts over Arrow batches (the reference's SIMD
popcount path, ``hamming.h:91``); the relational shell (broadcast
queries, partial top-k, window merge) is shared with the float path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.functions.vector import _binary_matrix, ids_codes_from_arrow, map_rows
from auncel_spark.operators.knn import _bcast_queries, _block_rows, _flat_partials
from auncel_spark.operators.topk import topk_per_query

_POP = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(1)


def pack_bits_np(bits: np.ndarray) -> np.ndarray:
    """(n, d) 0/1 → (n, d/8) uint8, MSB-first per byte (np.packbits)."""
    return np.packbits(bits.astype(np.uint8), axis=1)


def float_to_binary(
    df: DataFrame, vec_col: str = "vec", out_col: str = "bits", threshold: float = 0.0
) -> DataFrame:
    """IndexBinaryFromFloat bridge (O14): sign-threshold each component
    and pack. d must be a multiple of 8 (IndexBinary.h:36)."""
    return map_rows(
        df, lambda x: pack_bits_np(x > threshold), [vec_col], [(out_col, "binary")],
        keep=[c for c in df.columns if c != out_col],
    )


def lsh_sketch(
    df: DataFrame,
    n_bits: int = 64,
    seed: int = 42,
    vec_col: str = "vec",
    out_col: str = "bits",
) -> DataFrame:
    """IndexLSH (B14): seeded random-hyperplane sign sketch → packed
    binary codes (rotation matrix broadcast, one GEMM per batch)."""
    first = df.select(vec_col).first()
    d = len(first[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, d))
    return map_rows(
        df, lambda P, x: pack_bits_np((x @ P.T) >= 0), [vec_col], [(out_col, "binary")],
        keep=[c for c in df.columns if c != out_col], state=planes,
    )


def _hamming_matrix(qbytes: np.ndarray, bbytes: np.ndarray) -> np.ndarray:
    """(nq, code_size) × (nb, code_size) uint8 → (nq, nb) popcount."""
    xor = qbytes[:, None, :] ^ bbytes[None, :, :]
    return _POP[xor].sum(axis=2)


def hamming_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    qid_col: str = "qid",
    q_bits_col: str = "bits",
    id_col: str = "id",
    bits_col: str = "bits",
) -> DataFrame:
    """Brute Hamming top-k (``hammings_knn_hc``): the ``knn_exact`` scan
    (``_flat_partials``) over packed codes with a popcount distance
    block. Returns (qid, pos, id, dist) with dist = hamming distance;
    ties by id, as everywhere — integer distances tie constantly, so
    the scan's (dist, id) selection is what keeps the distributed
    partial top-k correct."""
    partial = _flat_partials(
        queries.select(qid_col, q_bits_col),
        base.select(id_col, bits_col),
        k,
        lambda qb: lambda bb: _hamming_matrix(qb, bb).astype(np.float64),
        decode=ids_codes_from_arrow,
        qdecode=ids_codes_from_arrow,
    )
    return topk_per_query(partial, k).select("qid", "pos", "id", "dist")


def hamming_range_count(
    queries: DataFrame,
    base: DataFrame,
    threshold: int,
    qid_col: str = "qid",
    q_bits_col: str = "bits",
    id_col: str = "id",
    bits_col: str = "bits",
) -> DataFrame:
    """``hamming_count_thres`` (hamming.h:118): per query, the number
    of base codes within the Hamming threshold. Returns (qid, cnt).

    The query broadcast and Arrow code decode of the top-k scan, with a
    count in place of the top-k: each task folds its rows into one
    per-query count and emits it once. No queries → an empty frame,
    without launching a scan."""
    import pyarrow as pa

    schema = "qid bigint, cnt bigint"
    bc = _bcast_queries(queries.select(qid_col, q_bits_col), ids_codes_from_arrow)
    if bc is None:
        return queries.sparkSession.createDataFrame([], schema)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        qids, qb = bc.value
        block = _block_rows(len(qids))
        cnt = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            _, bb = ids_codes_from_arrow(batch)
            if cnt is None:
                cnt = np.zeros(len(qids), dtype=np.int64)
            for s0 in range(0, len(bb), block):
                cnt += (_hamming_matrix(qb, bb[s0 : s0 + block]) < threshold).sum(axis=1)
        if cnt is not None:
            yield pa.RecordBatch.from_pydict({"qid": qids, "cnt": cnt})

    partial = base.select(id_col, bits_col).mapInArrow(scan, schema=schema)
    return partial.groupBy("qid").agg(F.sum("cnt").alias("cnt"))


def _generalized_hamming_matrix(qbytes: np.ndarray, bbytes: np.ndarray) -> np.ndarray:
    """Generalized Hamming (``Auncel/hamming.h:91-132``
    ``generalized_hammings_knn_hc``): distance = number of UNEQUAL
    BYTES, treating each byte as an opaque symbol — the metric for
    codes where bytes are sub-quantizer indices (e.g. PQ codes), where
    bit-level popcount is meaningless."""
    return (qbytes[:, None, :] != bbytes[None, :, :]).sum(axis=2)


def generalized_hamming_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    qid_col: str = "qid",
    q_bits_col: str = "bits",
    id_col: str = "id",
    bits_col: str = "bits",
) -> DataFrame:
    """Top-k by generalized (per-byte) Hamming distance. Same scan as
    ``hamming_knn``. Returns (qid, pos, id, dist)."""
    partial = _flat_partials(
        queries.select(qid_col, q_bits_col),
        base.select(id_col, bits_col),
        k,
        lambda qb: lambda bb: _generalized_hamming_matrix(qb, bb).astype(np.float64),
        decode=ids_codes_from_arrow,
        qdecode=ids_codes_from_arrow,
    )
    return topk_per_query(partial, k).select("qid", "pos", "id", "dist")


class BinaryIVFIndex:
    """IVF shell over binary codes (``IndexBinaryIVF``): coarse
    centroids in bit space (medoids by Hamming), the lists a ``bits``
    column of a list store (index/list_store.py), scan kernel =
    popcount. Reuses the float IVF's ranked-list scan."""

    def __init__(self, spark, centroids_bits: np.ndarray):
        self.spark = spark
        self.centroids = centroids_bits  # (nlist, code_size) uint8
        self.nlist = centroids_bits.shape[0]
        self.store = None

    @classmethod
    def build(cls, base: DataFrame, nlist: int, id_col: str = "id", bits_col: str = "bits"):
        spark = base.sparkSession
        # deterministic coarse codes: the nlist lowest-id codes act as
        # medoids (the reference trains k-means in float space then
        # binarizes; medoid init keeps this oracle-friendly)
        first = base.orderBy(id_col).select(bits_col).limit(nlist).toArrow()
        cents = _binary_matrix(first.column(0).combine_chunks()).copy()
        idx = cls(spark, cents)
        from auncel_spark.index.list_store import temp_store

        assigned = map_rows(
            base.select(id_col, bits_col),
            lambda C, bb: _hamming_matrix(bb, C).argmin(axis=1),
            [bits_col], [("list_no", "int")], state=cents,
        )
        idx.store = temp_store(
            assigned.select(F.col(id_col).alias("id"), F.col(bits_col).alias("bits"), "list_no"),
            idx.nlist, ("bits",),
        )
        return idx

    def search(self, queries: DataFrame, k: int, nprobe: int) -> DataFrame:
        """The ranked-list kernel with the popcount scanner: each code
        is read once regardless of how many queries probe its list."""
        from auncel_spark.config import Metric
        from auncel_spark.index.scan import HammingScanner, scan_ranked

        qt = queries.select("qid", "bits").toArrow()
        qids = qt.column("qid").to_numpy().astype(np.int64, copy=False)
        # width from the index: no queries decode to shape (0, 0)
        w = self.centroids.shape[1]
        qb = _binary_matrix(qt.column("bits").combine_chunks()).reshape(-1, w)
        cd = _hamming_matrix(qb, self.centroids)
        order = np.argsort(cd, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        partial = scan_ranked(
            self.store, qids, qb, order, [0, nprobe], k, Metric.L2,
            self.nlist, codec=HammingScanner(),
        )
        return topk_per_query(partial, k).select("qid", "pos", "id", "dist")
