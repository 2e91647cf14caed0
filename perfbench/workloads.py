"""The benchmark's workloads.

Each workload is one closed-loop client: ``serve`` submits query batch
``i`` and returns only once its result has been collected, and the
runner calls it again only then.

Sizes are fixed here, not by arguments: they are part of the workload
definition, and were chosen so that every run (Spark start, set-up and
the timed window) stays well inside the benchmark's time budget on a
4-core machine.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import stats
from generator import BOUND_CONFIGS, VectorSpace, config_of, documents
from tracing import Tracer

# The corpus is one fixed dataset; the run's seed picks the test-query
# stream. Every run therefore builds the same index and error profile,
# and runs differ only in the queries they serve.
DATASET_SEED = 20_240_601
D = 96
N_BASE = 40_000  # corpus rows
N_BLOBS = 400  # Gaussian blobs in the corpus (~100 rows each, 16 to a group)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    setup: dict[str, float] = field(default_factory=dict)  # stage -> s

    @contextmanager
    def stage(self, name: str):
        """Time one set-up stage (and trace it when tracing is on)."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.setup[name] = time.perf_counter() - t0


@dataclass
class Batch:
    index: int
    ops: int  # queries answered
    latency: float  # seconds from submitting the batch to holding its result
    window: tuple[float, float]  # epoch interval of the engine calls
    result: pd.DataFrame  # (qid, pos, id, dist)
    qids: np.ndarray
    pool: np.ndarray  # positions of the queries in the query pool
    k: int
    bound: float | None  # allowed recall loss, for bounded search
    nprobe: np.ndarray  # lists scanned per query
    cpu_s: float = 0.0  # CPU time of the program's processes while serving it


@dataclass
class Check:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    recall10: list[float] = field(default_factory=list)
    batch_failed: dict[int, int] = field(default_factory=dict)  # batch -> failed queries


VECTOR_SCHEMA = "id bigint, vec array<float>"


def write_vectors(
    path: str, ids: np.ndarray, vecs: np.ndarray, parts: int, name: str = "part"
) -> None:
    """(id bigint, vec array<float>) parquet, split into ``parts`` files
    so Spark scans it with that many tasks."""
    os.makedirs(path, exist_ok=True)
    n, d = vecs.shape
    for p in range(parts):
        lo, hi = p * n // parts, (p + 1) * n // parts
        offsets = pa.array(np.arange(0, (hi - lo) * d + 1, d, dtype=np.int32))
        table = pa.table({
            "id": pa.array(ids[lo:hi]),
            "vec": pa.ListArray.from_arrays(offsets, pa.array(vecs[lo:hi].ravel())),
        })
        pq.write_table(table, os.path.join(path, f"{name}-{p:03d}.parquet"))


def query_frame(spark, qids: np.ndarray, qmat: np.ndarray):
    return spark.createDataFrame(pd.DataFrame({"qid": qids, "vec": list(qmat)}))


def centroid_dists(x: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    x = x.astype(np.float64)
    return (x * x).sum(1)[:, None] + (centroids * centroids).sum(1)[None, :] - 2.0 * (x @ centroids.T)


def assign(vecs: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Nearest centroid per row."""
    return centroid_dists(vecs, centroids).argmin(1)


def coarse_order(qmat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """All lists per query, nearest first."""
    return np.argsort(centroid_dists(qmat, centroids), axis=1, kind="stable")


class VectorWorkload:
    """Shared corpus, query pool and checks of the vector workloads."""

    name = ""
    batch_size = 0
    nlist = 0
    # a window serves whole rounds of this many batches, so every run
    # serves the same mix of work, and at least ``rounds`` of them;
    # cpu_ms_per_query is the median over the rounds
    round = 1
    rounds = 1
    # query batches in the pool, with ground truth; later batches reuse
    # them. The window's batches come first, then the warm-up's.
    pool_batches = 1
    warmup_queries = 0  # queries of each untimed warm-up batch, if any
    warmup_batches: tuple[int, ...] = ()  # batch indices the warm-up serves
    gt_k = 10  # exact neighbours kept per query
    min_recall10 = 0.8  # below this mean recall@10 the output is wrong

    def __init__(self, seed: int):
        self.space = VectorSpace(seed=DATASET_SEED, d=D, n_blobs=N_BLOBS)
        self.pool = self.space.test_queries(0, self.pool_batches * self.batch_size, stream=seed)
        self.corpus_ids, self.corpus = self.space.corpus(0, N_BASE)
        self.gt_ids: np.ndarray | None = None  # engine ground truth, if set up

    def load_corpus(self, ctx: Ctx):
        path = os.path.join(ctx.work, "base")
        with ctx.stage("corpus.generate_s"):
            write_vectors(path, self.corpus_ids, self.corpus, parts=4)
        return ctx.spark.read.parquet(path)

    def batch_queries(self, i: int, size: int | None = None) -> tuple[np.ndarray, np.ndarray]:
        """(qids, pool positions) of batch ``i``, or of its first
        ``size`` queries: fresh ids every batch."""
        b = self.batch_size
        n = size or b
        pos = (np.arange(n) + i * b) % len(self.pool)
        return np.arange(i * b, i * b + n, dtype=np.int64), pos

    def timed_search(self, ctx: Ctx, i: int, search, size: int | None = None):
        """Submit batch ``i`` through ``search(queries) -> (DataFrame,
        extra)`` and collect the result: (seconds, epoch window, result
        rows, extra)."""
        qids, pos = self.batch_queries(i, size)
        start = time.time()
        t0 = time.perf_counter()
        with ctx.tracer.span("batch"):
            res, extra = search(query_frame(ctx.spark, qids, self.pool[pos]))
            with ctx.tracer.span("collect"):
                pdf = res.toPandas()
        return time.perf_counter() - t0, (start, time.time()), pdf, extra

    # -- checks ---------------------------------------------------------

    def check(self, batches: list[Batch], chk: Check) -> None:
        """numpy's exact neighbours for every query a batch used; the
        engine's ground truth from set-up, if any, must agree with them."""
        used = np.unique(np.concatenate([b.pool for b in batches]))
        true_ids = np.full((len(self.pool), self.gt_k), -1, dtype=np.int64)
        true_ids[used] = stats.exact_knn(self.pool[used], self.corpus, self.gt_k)[0]
        if self.gt_ids is None:
            self.gt_ids = true_ids
        else:
            agree = stats.recall_rows(self.gt_ids[used], true_ids[used], self.gt_k).mean()
            if agree < 0.999:
                chk.problems.append(f"knn_exact ground truth disagrees with numpy (recall {agree:.4f})")
        self.check_batches(batches, chk)

    def check_batches(self, batches: list[Batch], chk: Check) -> None:
        """Structure of every batch and recall@10 of every query; every
        query of a batch with a structural problem failed."""
        for b in batches:
            ids, problems = stats.check_result(b.result, b.qids, b.k, self.corpus, self.pool[b.pool])
            chk.attempted += len(b.qids)
            if problems:
                chk.failed += len(b.qids)
                chk.problems += [f"batch {b.index}: {p}" for p in problems[:3]]
                continue
            true_ids = self.gt_ids[b.pool]
            chk.recall10 += stats.recall_rows(ids, true_ids, 10).tolist()
            self.check_queries(b, ids, true_ids, chk)

    def check_queries(self, b: Batch, ids, true_ids, chk: Check) -> None:
        pass

    def after_window(self, ctx: Ctx) -> None:
        """Work the traced run measures after the query window."""

    def summary(self) -> list[str]:
        """Report lines beyond the query metrics."""
        return []

    def rows_per_query(self, traced: list[Batch], centroids: np.ndarray) -> float:
        """Mean summed size of the lists each query probed."""
        sizes = np.bincount(assign(self.corpus, centroids), minlength=self.nlist)
        rows = []
        for b in traced:
            ranked = coarse_order(self.pool[b.pool], centroids)
            rows += [sizes[ranked[j, : b.nprobe[j]]].sum() for j in range(len(ranked))]
        return float(np.mean(rows))


class BoundedGrid(VectorWorkload):
    """Error-bounded search over the 9-config (k, bound) grid."""

    name = "bounded_grid"
    # 300 queries: in every batch at least one query stays undecided
    # through the last stage, so each config runs the same Spark jobs
    # whatever the query stream (at 100 the job count varied by seed)
    batch_size = 300
    # 256 lists cap the error profile's stage ladder at 32 lists: stages
    # 1-8 run as one fused job, and 16 and 32 as jobs of their own while
    # a query is undecided; the grouped blobs leave some undecided
    nlist = 256
    round = 3  # a Latin-square row of the (k, bound) grid
    # one small batch of the round's widest config (k 100, bound 10%,
    # whose batches run every stage job), on the pool's last batch: the
    # first search batch pays JVM warm-up (class loading, code
    # generation, JIT) worth a fifth of a round's CPU
    pool_batches = 4
    warmup_queries = 30
    warmup_batches = (11,)  # config 11 % 9 = 2, pool batch 11 % 4 = 3
    gt_k = 100
    train_queries = 256
    kmeans_iters = 2
    kmeans_sample = 4096  # rows the initial centroids are drawn from

    def setup(self, ctx: Ctx) -> None:
        from auncel_spark.index.ivf import IVFIndex
        from auncel_spark.index.kmeans import train_kmeans
        from auncel_spark.operators.knn import knn_exact
        from auncel_spark.profile.error_profile import ErrorProfile

        base = self.load_corpus(ctx)
        with ctx.stage("kmeans.train_s"):
            cents, _ = train_kmeans(
                base, self.nlist, max_iter=self.kmeans_iters, seed=DATASET_SEED,
                sample_size=self.kmeans_sample,
            )
        with ctx.stage("ivf.build_s"):
            self.index = IVFIndex.build(
                base, nlist=self.nlist, centroids=cents, path=os.path.join(ctx.work, "ivf")
            )
        self.profile = ErrorProfile(self.index, max_topk=100)
        train = self.space.train_queries(self.train_queries)
        with ctx.stage("error_profile.fit_s"):
            tdf = query_frame(ctx.spark, np.arange(len(train), dtype=np.int64), train)
            # calibrated against a quarter of each bound: the margin that
            # lets the bound hold on unseen queries (the engine's ``safety``)
            self.params = self.profile.fit_and_calibrate_many(
                tdf, list(BOUND_CONFIGS), safety=0.25
            )
        # engine ground truth for the whole pool; checked against numpy
        # after the timed window
        n = len(self.pool)
        with ctx.stage("knn.exact_gt_s"):
            qdf = query_frame(ctx.spark, np.arange(n, dtype=np.int64), self.pool)
            gt = knn_exact(qdf, base, self.gt_k, strategy="gemm").toPandas()
        gt = gt.sort_values(["qid", "pos"])
        self.gt_ids = gt["id"].to_numpy(dtype=np.int64).reshape(n, self.gt_k)

    def instrument(self, tracer: Tracer) -> None:
        tracer.wrap(self.profile, "search", "error_profile.search")
        tracer.wrap(self.index, "coarse_rank", "ivf.coarse_rank")
        if hasattr(self.profile, "_scan_delta"):
            # the stage scans the fused prefix leaves to their own jobs
            tracer.wrap(self.profile, "_scan_delta", "error_profile.stage_scan")

    def serve(self, ctx: Ctx, i: int, size: int | None = None) -> Batch:
        k, bound = config_of(i)
        p = self.params[(k, bound)]
        self.profile.multipler, self.profile.std_m = p["multipler"], p["std_m"]
        lat, window, pdf, info = self.timed_search(
            ctx, i, lambda q: self.profile.search(q, k, 1.0 - bound, return_info=True), size
        )
        qids, pos = self.batch_queries(i, size)
        order = {int(q): j for j, q in enumerate(info["qid"])}
        nprobe = np.asarray(info["nprobe"])[[order[int(q)] for q in qids]]
        return Batch(i, len(qids), lat, window, pdf, qids, pos, k, bound, nprobe)

    def check_queries(self, b: Batch, ids, true_ids, chk: Check) -> None:
        """A query whose recall@k is below 1 - bound failed."""
        rec = stats.recall_rows(ids, true_ids, b.k)
        missed = int((rec < 1.0 - b.bound - 1e-9).sum())
        chk.failed += missed
        chk.batch_failed[b.index] = missed

    def layer_metrics(self, traced: list[Batch]) -> dict[str, float]:
        cents = self.index.centroids
        true_lists = assign(self.corpus, cents)
        chosen = oracle = 0.0
        for b in traced:
            ranked = coarse_order(self.pool[b.pool], cents)
            chosen += b.nprobe.sum()
            oracle += stats.oracle_nprobe(
                ranked, true_lists[self.gt_ids[b.pool][:, : b.k]], b.k, b.bound
            ).sum()
        return {
            "error_profile.mean_nprobe": float(np.mean([b.nprobe.mean() for b in traced])),
            "error_profile.nprobe_over_oracle": chosen / oracle,
            "scan.rows_per_query": self.rows_per_query(traced, cents),
        }


class PQRefine(VectorWorkload):
    """Fixed-nprobe IVF-PQ search with an exact re-rank of k_factor * k
    candidates, over an IVF assignment built by streaming ingest; the
    traced run adds one near-duplicate clustering pass over a generated
    document set."""

    name = "pq_refine"
    batch_size = 250
    nlist = 64
    nprobe = 8
    # every batch is a round: the median over eight of them drops a
    # batch that other tenants of a shared host slowed for a few seconds
    round = 1
    rounds = 8
    # set-up never runs the ADC scan or the refine: one whole batch of
    # them, on the pool's last batch, pays their first-use cost (class
    # loading, code generation, JIT) before the window
    pool_batches = 9
    warmup_queries = batch_size
    warmup_batches = (8,)
    M = 16
    pq_sample = 4096
    pq_iters = 10
    ingest_rows = 20_000  # vectors per ingest micro-batch
    ingest_files = 2  # source files per micro-batch (tasks of its drain)
    n_docs = 1_000  # documents of the dedup pass

    clusters: pd.DataFrame | None = None  # dedup pass result, when run

    def setup(self, ctx: Ctx) -> None:
        from auncel_spark.index.ivfpq import IVFPQIndex
        from auncel_spark.index.pq import ProductQuantizer

        self.base = self.load_corpus(ctx)
        # list centroids: a seeded sample of corpus rows (k-means is
        # measured by bounded_grid; this keeps the run inside its budget)
        rng = np.random.default_rng([DATASET_SEED, 7])
        cents = self.corpus[rng.choice(N_BASE, self.nlist, replace=False)].astype(np.float64)
        live = self.ingest(ctx, cents)
        with ctx.stage("ivfpq.build_s"):
            # codebooks from a seeded residual sample (smaller than the
            # build's own default sample, which would not fit the run's
            # budget), then every row of the assignment encoded
            x = self.corpus[rng.choice(N_BASE, self.pq_sample, replace=False)].astype(np.float64)
            resid = x - cents[assign(x, cents)]
            rdf = ctx.spark.createDataFrame(pd.DataFrame({"rvec": list(resid)}))
            codebooks = ProductQuantizer.train(
                rdf, M=self.M, vec_col="rvec", sample_size=self.pq_sample,
                n_iter=self.pq_iters, seed=DATASET_SEED,
            )
            self.index = IVFPQIndex.build(
                self.base, nlist=self.nlist, M=self.M, centroids=cents, pq=codebooks,
                assigned=ctx.spark.read.parquet(live), encode_gemm=True,
                path=os.path.join(ctx.work, "ivfpq"),
            )

    def ingest(self, ctx: Ctx, cents: np.ndarray) -> str:
        """The corpus arrives as micro-batches of new vector files; each
        is drained through ``stream_assign_vectors`` into a live list
        directory before the next arrives. Returns that directory."""
        from auncel_spark.streaming.ingest import stream_assign_vectors

        src, live = os.path.join(ctx.work, "arrivals"), os.path.join(ctx.work, "live")
        ckpt = os.path.join(ctx.work, "ingest-checkpoint")
        self.drain_s: list[float] = []
        self.ingest_steps: list[tuple[int, int, float]] = []  # (acked, readable, files/list)
        with ctx.stage("ingest.total_s"):
            for step, lo in enumerate(range(0, N_BASE, self.ingest_rows)):
                hi = min(lo + self.ingest_rows, N_BASE)
                write_vectors(src, self.corpus_ids[lo:hi], self.corpus[lo:hi],
                              self.ingest_files, name=f"step{step:03d}")
                t0 = time.perf_counter()
                with ctx.tracer.span("ingest.drain"):
                    stream_assign_vectors(
                        ctx.spark, src, VECTOR_SCHEMA, cents, live, ckpt
                    ).awaitTermination()
                self.drain_s.append(time.perf_counter() - t0)
                readable = ctx.spark.read.parquet(live).count()
                self.ingest_steps.append((hi, readable, files_per_list(live)))
        return live

    def instrument(self, tracer: Tracer) -> None:
        tracer.wrap(self.index, "search_refine", "ivfpq.search_refine")
        tracer.wrap(self.index, "search", "ivfpq.search")
        tracer.wrap(self.index, "coarse_rank", "ivf.coarse_rank")

    def serve(self, ctx: Ctx, i: int, size: int | None = None) -> Batch:
        lat, window, pdf, _ = self.timed_search(
            ctx, i,
            lambda q: (self.index.search_refine(q, self.base, 10, self.nprobe, k_factor=8), None),
            size,
        )
        qids, pos = self.batch_queries(i, size)
        return Batch(i, len(qids), lat, window, pdf, qids, pos, 10, None,
                     np.full(len(qids), self.nprobe))

    def after_window(self, ctx: Ctx) -> None:
        """One ``dedup_clusters(minhash_lsh_pairs(...))`` pass with the
        catalog's parameters (8 hashes in 4 bands, 3-word shingles). It
        feeds per-layer metrics only, so untraced runs skip it."""
        from pyspark.sql import functions as F

        from auncel_spark.operators.components import dedup_clusters
        from auncel_spark.operators.dedup import minhash_lsh_pairs, tokens

        ids, texts = documents(DATASET_SEED, self.n_docs)
        self.docs_path = os.path.join(ctx.work, "documents.parquet")
        pq.write_table(pa.table({"doc_id": ids, "text": texts}), self.docs_path)
        docs = ctx.spark.read.parquet(self.docs_path).select(
            F.col("doc_id").alias("id"), tokens("text").alias("_tok")
        )
        t0 = time.perf_counter()
        with ctx.tracer.span("dedup.pairs"):
            pairs = minhash_lsh_pairs(
                docs, n_hashes=8, bands=4, id_col="id", tokens_col="_tok"
            ).localCheckpoint(eager=True)
        t1 = time.perf_counter()
        with ctx.tracer.span("components"):
            self.clusters = dedup_clusters(pairs).toPandas()
        t2 = time.perf_counter()
        self.dedup = {
            "dedup.pairs_ms": 1e3 * (t1 - t0),
            "dedup.candidate_pairs": float(pairs.count()),
            "components.ms": 1e3 * (t2 - t1),
        }

    def check(self, batches: list[Batch], chk: Check) -> None:
        super().check(batches, chk)
        for step, (acked, readable, _) in enumerate(self.ingest_steps):
            chk.attempted += 1
            if readable != acked:
                chk.failed += 1
                chk.problems.append(f"ingest step {step}: {readable} rows readable, {acked} acknowledged")
        if self.clusters is None:
            return
        chk.attempted += 1
        want = dedup_oracle(self.docs_path)
        if stats.frame_digest(self.clusters) != stats.frame_digest(want):
            chk.failed += 1
            chk.problems.append(
                f"dedup_clusters: {len(self.clusters)} rows differ from the oracle's {len(want)}"
            )

    def summary(self) -> list[str]:
        rows = self.ingest_steps[-1][0]
        lines = [
            f"ingest_rows_per_s: {rows / sum(self.drain_s):.4f} 1/s"
            f" (n={len(self.drain_s)} micro-batches of {self.ingest_rows} rows)",
            "ingest files per list after each step: "
            + ", ".join(f"{f:.2f}" for _, _, f in self.ingest_steps),
        ]
        if self.clusters is not None:
            secs = self.dedup["dedup.pairs_ms"] + self.dedup["components.ms"]
            lines.append(
                f"dedup: {1e3 * self.n_docs / secs:.4f} documents/s (n={self.n_docs}),"
                f" {self.dedup['dedup.candidate_pairs']:.0f} candidate pairs,"
                f" {len(self.clusters)} documents in clusters"
            )
        return lines

    def layer_metrics(self, traced: list[Batch]) -> dict[str, float]:
        return {
            "scan.rows_per_query": self.rows_per_query(traced, self.index.centroids),
            "ingest.drain_ms": 1e3 * float(np.mean(self.drain_s)),
            "ingest.files_per_list": self.ingest_steps[-1][2],
            **self.dedup,
        }


def dedup_oracle(docs_path: str) -> pd.DataFrame:
    """(doc_id, cluster_id, cluster_size) of the documents at
    ``docs_path`` by the catalog's DuckDB oracle SQL for dedup_clusters."""
    import duckdb

    from auncel_spark.catalog import ORACLES

    # the oracle with its signature and edge CTEs materialized: without
    # that DuckDB re-derives every signature on each step of the
    # recursive closure (~25 s instead of ~1 s at 4,000 documents)
    sql = ORACLES["dedup_clusters"]
    for cte in ("sig", "sym"):
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        quoted = docs_path.replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{quoted}')")
        return con.execute(sql).df()
    finally:
        con.close()


def files_per_list(live: str) -> float:
    """Mean data files per non-empty list of a list directory."""
    counts = [
        sum(f.endswith(".parquet") for f in os.listdir(os.path.join(live, d)))
        for d in os.listdir(live) if d.startswith("list_no=")
    ]
    return float(np.mean(counts)) if counts else 0.0


WORKLOADS = {w.name: w for w in (BoundedGrid, PQRefine)}
