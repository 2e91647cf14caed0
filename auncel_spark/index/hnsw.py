"""HNSW — graph ANN (SURVEY.md §2.3 O12, §2.2 B13; reference
``HNSW.{h,cpp}`` / ``IndexHNSW``, ~2258 LoC).

SURVEY §7.3 design decision, refined in round 3: sequential,
lock-heavy graph construction and pointer-chasing search do not fit
DataFrame *expressions*, but they parallelize cleanly ACROSS SHARDS —
the same row-sharding the reference's dist/ mode applies to IVF.

Two surfaces:

- ``HNSWGraph``: pure-numpy single-graph core (no Spark imports) —
  build from arrays, batch search. Runs on the driver for small
  corpora and INSIDE EXECUTORS for the sharded path.
- ``HNSWIndex``: driver-side wrapper (collect → HNSWGraph), kept for
  API parity with "HNSW32" factory strings; refuses above max_rows.
- ``ShardedHNSWIndex``: the distributed path. Build = one
  ``applyInPandas`` per shard (graphs built concurrently on
  executors), persisted as a columnar parquet graph partitioned by
  shard (node vectors + per-level neighbor lists). Search = broadcast
  queries, one kernel task per shard (greedy descent inside the task,
  vectors/neighbors as numpy), then an O(shards·nq·k) top-k merge —
  the IndexShards/IndexReplicas composition pattern
  (``faiss/IndexShards.h``) applied to HNSW.

Scale posture: shard size is bounded by executor memory (default
500k rows/shard); corpus size is bounded only by shard count. Graph
quality: each shard is an independent exact HNSW over its subset;
searching all shards with per-shard ef recovers cross-shard recall
(same union-of-independent-indexes semantics as the reference's
distributed IVF search, ``dist/worker.cpp``).
"""

from __future__ import annotations

import heapq
from bisect import insort

import numpy as np
from pyspark.sql import DataFrame, functions as F


class HNSWGraph:
    """Single HNSW graph over in-memory arrays. Deterministic given
    (seed, insertion order); inserts sorted by id."""

    def __init__(self, M: int = 16, ef_construction: int = 64, seed: int = 42):
        self.M = M
        self.ef_construction = ef_construction
        self.seed = seed
        self.levels: list[dict[int, list[int]]] = []
        self.node_level: np.ndarray | None = None
        self.entry: int = -1
        self.x: np.ndarray | None = None
        self.ids: np.ndarray | None = None

    # --- construction (sequential insert, greedy descent) -------------

    def build_arrays(self, ids: np.ndarray, x: np.ndarray) -> "HNSWGraph":
        order = np.argsort(ids, kind="stable")
        self.ids = np.asarray(ids, dtype=np.int64)[order]
        self.x = np.asarray(x, dtype=np.float64)[order]
        rng = np.random.default_rng(self.seed)
        ml = 1.0 / np.log(max(self.M, 2))
        self.node_level = np.floor(-np.log(rng.random(len(self.ids))) * ml).astype(int)
        max_level = int(self.node_level.max()) if len(self.ids) else 0
        self.levels = [dict() for _ in range(max_level + 1)]
        self.entry = -1
        for i in range(len(self.ids)):
            self._insert(i)
        return self

    def _dist(self, i: int, v: np.ndarray) -> float:
        d = self.x[i] - v
        return float(d @ d)

    def _dist_many(self, idxs: list[int], v: np.ndarray) -> np.ndarray:
        """Distances of several nodes to v in one vectorized pass —
        the per-neighbor ``_dist`` calls were ~70% of build+search time
        (one tiny ndarray temp + dot dispatch per edge). Equality of
        the resulting GRAPH against the per-edge build is asserted by
        tests/test_index.py::test_hnsw_vectorized_graph_identical —
        candidate gaps in this corpus are ~1e-2, ulp-level reduction
        differences cannot flip a strict comparison."""
        diff = self.x[idxs] - v
        return np.einsum("ij,ij->i", diff, diff)

    def _search_layer(self, v: np.ndarray, entry: int, ef: int, level: int) -> list[tuple[float, int]]:
        visited = {entry}
        d0 = self._dist(entry, v)
        cand = [(d0, entry)]
        best = [(d0, entry)]
        nbr_lists = self.levels[level]
        while cand:
            dc, c = heapq.heappop(cand)
            worst = best[-1][0]  # best stays sorted: max == last
            if dc > worst and len(best) >= ef:
                break
            fresh = [nb for nb in nbr_lists.get(c, []) if nb not in visited]
            if not fresh:
                continue
            visited.update(fresh)
            dns = self._dist_many(fresh, v)
            for nb, dn in zip(fresh, dns):
                dn = float(dn)
                if len(best) < ef or dn < best[-1][0]:
                    heapq.heappush(cand, (dn, nb))
                    insort(best, (dn, nb))
                    if len(best) > ef:
                        best.pop()
        return best

    def _descend(self, v: np.ndarray, cur: int, top: int, stop: int) -> int:
        """Greedy descent from layer ``top`` down to layer ``stop+1``:
        per pass, distances of the current node's whole neighbor list
        are evaluated in one vectorized call, then replayed in list
        order against the running best — the same comparisons, and the
        same mid-pass entry switches, as the per-edge loop it
        replaces."""
        for l in range(top, stop, -1):
            improved = True
            while improved:
                improved = False
                nbrs = self.levels[l].get(cur, [])
                if not nbrs:
                    break
                dns = self._dist_many(nbrs, v)
                dcur = self._dist(cur, v)
                for nb, dn in zip(nbrs, dns):
                    if dn < dcur:
                        cur = nb
                        dcur = dn
                        improved = True
        return cur

    def _insert(self, i: int) -> None:
        lvl = int(self.node_level[i])
        if self.entry < 0:
            self.entry = i
            for l in range(lvl + 1):
                self.levels[l][i] = []
            return
        v = self.x[i]
        cur = self._descend(v, self.entry, int(self.node_level[self.entry]), lvl)
        top = int(self.node_level[self.entry])
        for l in range(min(lvl, top), -1, -1):
            cands = self._search_layer(v, cur, self.ef_construction, l)
            sel = [c for _, c in sorted(cands)[: self.M]]
            self.levels[l][i] = sel
            for s in sel:
                lst = self.levels[l].setdefault(s, [])
                lst.append(i)
                if len(lst) > self.M * 2:  # shrink, keep closest
                    # stable argsort = Python list.sort on the same
                    # keys: identical kept set and order
                    dns = self._dist_many(lst, self.x[s])
                    order = np.argsort(dns, kind="stable")[: self.M * 2]
                    self.levels[l][s] = [lst[j] for j in order]
            cur = sel[0] if sel else cur
        if lvl > top:
            self.entry = i

    # --- search --------------------------------------------------------

    def search_one(self, v: np.ndarray, k: int, ef_search: int) -> list[tuple[float, int]]:
        """[(dist, external_id)] sorted by (dist, id)."""
        cur = self._descend(v, self.entry, int(self.node_level[self.entry]), 0)
        best = self._search_layer(v, cur, max(ef_search, k), 0)
        # emit the scalar-formula distance (d @ d): the batched einsum
        # used for traversal can differ in the last ulp, and the
        # emitted values must stay bit-identical to the per-edge
        # implementation (k recomputes per query — negligible)
        best = [(self._dist(i, v), int(self.ids[i])) for _, i in best]
        best.sort()
        return best[:k]

    # --- columnar (de)serialization for the sharded parquet layout ----

    def to_rows(self):
        """One row per node: (i, id, vec, level, nbrs[level][...])."""
        for i in range(len(self.ids)):
            lvl = int(self.node_level[i])
            nbrs = [
                [int(j) for j in self.levels[l].get(i, [])] for l in range(lvl + 1)
            ]
            yield (
                int(i),
                int(self.ids[i]),
                [float(v) for v in self.x[i]],
                lvl,
                nbrs,
            )

    @classmethod
    def from_columns(cls, i, ids, vecs, level, nbrs, M: int, ef_construction: int) -> "HNSWGraph":
        g = cls(M=M, ef_construction=ef_construction)
        order = np.argsort(np.asarray(i))
        g.ids = np.asarray(ids, dtype=np.int64)[order]
        g.x = np.stack([np.asarray(vecs[int(j)], dtype=np.float64) for j in order])
        g.node_level = np.asarray(level, dtype=int)[order]
        max_level = int(g.node_level.max()) if len(g.ids) else 0
        g.levels = [dict() for _ in range(max_level + 1)]
        for row, j in enumerate(order):
            per_level = nbrs[int(j)]
            for l, lst in enumerate(per_level):
                g.levels[l][row] = [int(x) for x in lst]
        g.entry = int(np.argmax(g.node_level))
        return g


class HNSWIndex:
    """Driver-side helper for small corpora (API parity for "HNSW32");
    above max_rows use ShardedHNSWIndex or IVF."""

    def __init__(self, M: int = 16, ef_construction: int = 64, seed: int = 42, max_rows: int = 200_000):
        self.M = M
        self.ef_construction = ef_construction
        self.seed = seed
        self.max_rows = max_rows
        self.g: HNSWGraph | None = None

    def build(self, base: DataFrame, id_col: str = "id", vec_col: str = "vec") -> "HNSWIndex":
        n = base.count()
        if n > self.max_rows:
            raise ValueError(
                f"HNSW helper is driver-side; {n} rows > max_rows={self.max_rows}. "
                "Use ShardedHNSWIndex (distributed) or IVFIndex/IVFPQIndex."
            )
        rows = base.select(id_col, vec_col).collect()
        ids = np.array([r[id_col] for r in rows], dtype=np.int64)
        x = np.array([r[vec_col] for r in rows], dtype=np.float64)
        self.g = HNSWGraph(self.M, self.ef_construction, self.seed).build_arrays(ids, x)
        return self

    def search(self, queries: DataFrame, k: int, ef_search: int = 64) -> DataFrame:
        spark = queries.sparkSession
        out = []
        for r in queries.select("qid", "vec").collect():
            v = np.asarray(r["vec"], dtype=np.float64)
            for pos, (d, ext) in enumerate(self.g.search_one(v, k, ef_search)):
                out.append((int(r["qid"]), pos, ext, float(d)))
        return spark.createDataFrame(out, "qid bigint, pos int, id bigint, dist double")


_GRAPH_SCHEMA = (
    "shard int, i int, id bigint, vec array<double>, level int, "
    "nbrs array<array<int>>"
)


class ShardedHNSWIndex:
    """Distributed HNSW: independent per-shard graphs, union-merged
    search (faiss IndexShards composition, ``faiss/IndexShards.h``).

    Build: rows hash-shard by id; each shard's graph is constructed by
    ONE executor task (shards build in parallel) and persisted as
    columnar parquet partitioned by shard. Search: queries broadcast,
    one kernel task per shard runs the greedy descent over in-memory
    arrays, a window top-k merges the per-shard candidates — shuffle
    is O(shards · nq · k), never corpus rows.
    """

    def __init__(self, spark, path: str, n_shards: int, M: int, ef_construction: int, seed: int):
        self.spark = spark
        self.path = path
        self.n_shards = n_shards
        self.M = M
        self.ef_construction = ef_construction
        self.seed = seed
        self.data = spark.read.parquet(path)

    @staticmethod
    def build(
        base: DataFrame,
        path: str,
        n_shards: int = 8,
        M: int = 16,
        ef_construction: int = 64,
        seed: int = 42,
        id_col: str = "id",
        vec_col: str = "vec",
        max_rows_per_shard: int = 500_000,
    ) -> "ShardedHNSWIndex":
        import pandas as pd

        spark = base.sparkSession

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) > max_rows_per_shard:
                raise ValueError(
                    f"shard of {len(pdf)} rows exceeds max_rows_per_shard="
                    f"{max_rows_per_shard}; raise n_shards"
                )
            shard = int(pdf["shard"].iloc[0])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            x = np.stack(pdf[vec_col].to_numpy())
            # per-shard seed keeps level draws independent across shards
            g = HNSWGraph(M, ef_construction, seed + shard).build_arrays(ids, x)
            rows = list(g.to_rows())
            return pd.DataFrame(
                {
                    "shard": shard,
                    "i": [r[0] for r in rows],
                    "id": [r[1] for r in rows],
                    "vec": [r[2] for r in rows],
                    "level": [r[3] for r in rows],
                    "nbrs": [r[4] for r in rows],
                }
            )

        (
            base.select(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
                .cast("int")
                .alias("shard"),
                F.col(id_col).alias(id_col),
                F.col(vec_col).alias(vec_col),
            )
            .groupBy("shard")
            .applyInPandas(build_shard, _GRAPH_SCHEMA)
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )
        return ShardedHNSWIndex(spark, path, n_shards, M, ef_construction, seed)

    def search(self, queries: DataFrame, k: int, ef_search: int = 64) -> DataFrame:
        import pandas as pd

        spark = self.spark
        qpdf = queries.select("qid", "vec").toPandas()
        qids = qpdf["qid"].to_numpy(dtype=np.int64)
        qmat = np.stack(qpdf["vec"].to_numpy()).astype(np.float64)
        bq = spark.sparkContext.broadcast((qids, qmat))
        M, efc = self.M, self.ef_construction

        def kernel(batches):
            import pyarrow as pa

            # accumulate per shard: a task may carry >1 arrow batch (and,
            # after coalescing, >1 shard); group rows before graph rebuild
            parts: dict[int, list[pd.DataFrame]] = {}
            for batch in batches:
                for s, grp in batch.to_pandas().groupby("shard"):
                    parts.setdefault(int(s), []).append(grp)
            q_ids, q_mat = bq.value
            for s, chunks in parts.items():
                pdf = pd.concat(chunks, ignore_index=True)
                g = HNSWGraph.from_columns(
                    pdf["i"].to_numpy(),
                    pdf["id"].to_numpy(),
                    pdf["vec"].to_numpy(),
                    pdf["level"].to_numpy(),
                    pdf["nbrs"].to_numpy(),
                    M,
                    efc,
                )
                out_q, out_p, out_i, out_d = [], [], [], []
                for qi in range(len(q_ids)):
                    best = g.search_one(q_mat[qi], k, ef_search)
                    for pos, (d, ext) in enumerate(best):
                        out_q.append(int(q_ids[qi]))
                        out_p.append(pos)
                        out_i.append(ext)
                        out_d.append(float(d))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_q, pa.int64()),
                        pa.array(out_p, pa.int32()),
                        pa.array(out_i, pa.int64()),
                        pa.array(out_d, pa.float64()),
                    ],
                    names=["qid", "pos", "id", "dist"],
                )

        cand = self.data.mapInArrow(
            kernel, "qid bigint, pos int, id bigint, dist double"
        )
        from auncel_spark.operators.topk import merge_topk

        return merge_topk(k, cand)
