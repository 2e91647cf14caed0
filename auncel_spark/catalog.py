"""The declared query catalog: every operator from SURVEY.md §2 that is
implemented gets (a) a Spark callable (spark, sf_dir) -> DataFrame and
(b) where SQL-expressible, a DuckDB oracle string over the same parquet
tables. The driver hash-matches the two at sf=0.01.

Conventions (driver contract):
- every computed column is aliased identically in Spark and SQL;
- ids/positions are BIGINT; floats are rounded (round(x, 6)) before
  being returned so float64 noise cannot flip the value hash;
- k-NN results return (qid, pos, id) — the distance itself stays out of
  hashed output; ordering is deterministic via (dist, id) tie-break.

Query workload: the `embeddings` table (vec_id BIGINT, embedding
ARRAY<FLOAT> d=64 unit-norm, label INT). Queries are the rows with
vec_id % 20 = 0, searching the full table — self-match included, as in
the reference's recall evaluation convention.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import numpy as np

from auncel_spark.config import Metric
from auncel_spark.index.ivf import IVFIndex
from auncel_spark.index.kmeans import assign_lists
from auncel_spark.operators.knn import knn_by_ids, knn_exact, range_search
from auncel_spark.operators.recall import intersection_recall
from auncel_spark.operators.topk import merge_topk

K = 10
QUERY_FILTER = "vec_id % 20 = 0"
RANGE_RADIUS = 1.4  # squared L2; ~1% of pairs on the unit-norm corpus


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table == "events":
        # the fixture stores TIMESTAMP(NANOS), which Spark's reader
        # rejects as a timestamp; read as epoch-nano longs (normalized
        # downstream). Runtime-settable, so this also protects sessions
        # not built by auncel_spark.session.get_spark (e.g. the driver's)
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _emb_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "embeddings")
        .filter(QUERY_FILTER)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"))
    )


def _emb_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


# --- M0: exact search family (SURVEY §2.3 O1-O5, O15-O17) ---------------


def q_range_search_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = range_search(
        _emb_queries(spark, sf_dir), _emb_base(spark, sf_dir), RANGE_RADIUS, Metric.L2
    )
    return res.select("qid", "id")


def q_knn_rerank_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O9: candidate generation by IP top-50, exact L2 re-rank to top-10."""
    q = _emb_queries(spark, sf_dir)
    b = _emb_base(spark, sf_dir)
    cand = knn_exact(q, b, 50, Metric.IP).select("qid", "id")
    res = knn_by_ids(q, b, cand, K, Metric.L2)
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_shard_merge_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16/O20: shard by id parity, search shards independently, merge.
    Semantically equal to the global top-k — the oracle states that.

    Single-scan since r10: both parity shards are filtered views of ONE
    table, so one pass keeps an independent top-k state per shard
    (``knn_exact_shard_partials``) instead of scanning the corpus once
    per shard — 2 corpus scans → 1, and the per-shard pre-merge windows
    fold into ``merge_topk``'s own window (task partials are a superset
    of each shard's top-k, so the merged winners are identical — see
    the kernel's docstring). The partials frame is localCheckpoint'd
    (lazy) because the two shard filters would otherwise re-evaluate
    the scan subtree once each."""
    q = _emb_queries(spark, sf_dir)
    b = _emb_base(spark, sf_dir)
    from auncel_spark.operators.knn import knn_exact_shard_partials

    partials = knn_exact_shard_partials(q, b, K, 2, Metric.L2).localCheckpoint(
        eager=False
    )
    res = merge_topk(
        K,
        partials.filter("shard = 0").select("qid", "id", "dist"),
        partials.filter("shard = 1").select("qid", "id", "dist"),
    )
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_split_vectors_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IndexSplitVectors (Auncel/MetaIndexes.cpp:188-297): exact kNN
    over 4 dimension shards; Σ of per-shard sub-distances == full L2,
    so the oracle is the plain exact-kNN SQL."""
    from auncel_spark.index.split import split_columns, split_vectors_knn

    shards = split_columns(_emb_base(spark, sf_dir), 4, d=64)
    res = split_vectors_knn(
        _emb_queries(spark, sf_dir), shards, K, Metric.L2, dims=[16, 16, 16, 16]
    )
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


# --- M1/M2: IVF build + search family (SURVEY §2.2 B1-B5, §2.3 O6-O7) ---

NLIST = 16  # seed-centroid count for oracle-expressible IVF queries
NPROBE = 4
KM_K = 8  # clusters for the centroid-update query
IMI_KSUB = 8  # seeded half-space quantizers: 8² = 64 cells


def _seed_centroids(spark: SparkSession, sf_dir: str, k: int) -> np.ndarray:
    """Deterministic quantizer for oracle-checked queries: centroids are
    the k lowest-vec_id embeddings (init="first_k"); the IVF machinery
    is identical to the trained-k-means path."""
    # collect the k rows and sort driver-side: an orderBy on the
    # DataFrame costs a range-partitioner sampling pass (4 Spark jobs
    # and ~0.3 s per call measured at sf0.1) for a k-row result; the
    # pruned unordered collect is 1 job and the driver sort is exact
    # (guide §1.2 — don't spend a distributed pass on driver-sized
    # work). Same rows, same order, so every consumer is unchanged.
    rows = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def _seed_ivf(spark: SparkSession, sf_dir: str) -> IVFIndex:
    """The shared seed-centroid IVF index (deterministic; reused by
    every IVF-family catalog query). Persisted to a temp dir and loaded
    back, so the gate exercises a loaded index's list store (the
    probed lists memmapped by the scan tasks, broadcast queries)."""

    def _build():
        import tempfile

        cents = _seed_centroids(spark, sf_dir, NLIST)
        path = tempfile.mkdtemp(prefix="auncel_seed_ivf_")
        IVFIndex.build(
            _emb_base(spark, sf_dir), nlist=NLIST, centroids=cents, path=path
        )
        return IVFIndex.load(spark, path)

    return _cached(sf_dir, "seed_ivf", _build)


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: nearest-centroid assignment of every base vector."""
    cents = _seed_centroids(spark, sf_dir, NLIST)
    out = assign_lists(_emb_base(spark, sf_dir), cents)
    return out.select("id", F.col("list_no").cast("bigint").alias("list_no"))


def q_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 (one Lloyd's half-step): per-cluster per-dimension mean."""
    cents = _seed_centroids(spark, sf_dir, KM_K)
    assigned = assign_lists(_emb_base(spark, sf_dir), cents)
    return (
        assigned.select("list_no", F.posexplode("vec").alias("dim0", "v"))
        .groupBy("list_no", "dim0")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("val"))
        .select(
            F.col("list_no").cast("bigint").alias("list_no"),
            (F.col("dim0") + 1).cast("bigint").alias("dim"),
            "val",
        )
    )


def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6+O7: fixed-nprobe IVF-Flat search through the real index path
    (probed-list scan of the list store + GEMM + window top-k)."""
    idx = _seed_ivf(spark, sf_dir)
    res = idx.search(_emb_queries(spark, sf_dir), K, nprobe=NPROBE)
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_ivfsq4_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 at QT_4bit: IVF lists store packed 4-bit scalar-quantized
    codes (d/2 bytes per vector — half the 8-bit footprint,
    IndexScalarQuantizer.h:34-88), decoded inside the scan kernel. The
    floor-based codec is replicated exactly in the SQL oracle, so this
    is oracle-checked end-to-end: train stats → encode → pack →
    unpack → decode → pruned probe scan → top-k."""
    from auncel_spark.index.ivfsq import IVFSQIndex

    def _build():
        cents = _seed_centroids(spark, sf_dir, NLIST)
        return IVFSQIndex.build(
            _emb_base(spark, sf_dir), nlist=NLIST, centroids=cents, qtype="4bit"
        )

    idx = _cached(sf_dir, "seed_ivfsq4", _build)
    res = idx.search(_emb_queries(spark, sf_dir), K, nprobe=NPROBE)
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_ivf_list_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O31: posting-list size histogram (imbalance introspection)."""
    cents = _seed_centroids(spark, sf_dir, NLIST)
    out = assign_lists(_emb_base(spark, sf_dir), cents)
    return out.groupBy("list_no").agg(F.count("*").alias("cnt")).select(
        F.col("list_no").cast("bigint").alias("list_no"), "cnt"
    )


# --- M3: error-bounded adaptive search (SURVEY §2.3 O24-O28) ------------

BOUND = 0.1  # error bound: per-query required recall = 1 - BOUND


_PROFILE_CACHE: dict[str, tuple] = {}
# per-sf_dir caches for deterministic built structures reused across
# catalog queries (builds are seeded; rebuilding per query only burns
# bench time)
_STRUCT_CACHE: dict[tuple[str, str], object] = {}


def _cached(sf_dir: str, kind: str, builder):
    key = (sf_dir, kind)
    if key not in _STRUCT_CACHE:
        _STRUCT_CACHE[key] = builder()
    return _STRUCT_CACHE[key]


def _toked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared tokenized documents table (id, source, _tok), persisted
    once per sf_dir: the two heaviest headline text queries
    (ngram_jaccard_pairs, decontamination) otherwise scan + regex-split
    the same corpus three times between them (VERDICT r07 Next #7).
    Tokenization is deterministic, so sharing it cannot change results;
    at cluster scale this is the standard materialize-the-token-table
    step a 100 TB curation pipeline runs once per corpus refresh."""

    def build():
        from auncel_spark.operators.dedup import tokens

        df = (
            load(spark, sf_dir, "documents")
            .select(
                F.col("doc_id").alias("id"),
                "source",
                tokens("text").alias("_tok"),
            )
            .persist()
        )
        return df

    return _cached(sf_dir, "toked_docs", build)


def _fitted_profile(spark: SparkSession, sf_dir: str):
    from auncel_spark.profile.error_profile import ErrorProfile

    if sf_dir in _PROFILE_CACHE:
        return _PROFILE_CACHE[sf_dir]
    idx = _seed_ivf(spark, sf_dir)
    q = _emb_queries(spark, sf_dir)
    ep = ErrorProfile(idx, max_topk=50)
    # single shared sweep; the top of the multipler grid reaches a full
    # scan (nlist/8 · 8 = nlist), so calibration always has a
    # bound-satisfying fallback
    ep.fit_and_calibrate(
        q, K, BOUND, multipler_grid=(1.0, 2.0, 4.0, 8.0), std_m_grid=(1.0, 2.0)
    )
    _PROFILE_CACHE[sf_dir] = (ep, q)
    return ep, q


def q_bounded_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O24-O27: Auncel's flagship — per-query error-bounded adaptive
    kNN — under its convergence contract (VERDICT r06 Next #4): at
    require_acc = 1.0 with the maximally conservative calibration the
    staged adaptive search must return the EXACT top-k, hash-exact vs
    the exact-kNN oracle. The conservative setting uses the
    reference's own post-stop extension knob — multipler
    (``IndexIVF.cpp:615-626``: scanning continues to stage·multipler
    after the stop rule fires); at multipler = nlist every query's
    target extends to a full exhaustive probe, so the staged ladder,
    delta scans, state merges and tie-breaks are all exercised and the
    result is provably the exact scan. The sub-exact bounded modes
    (uniform and per-query mixed bounds) keep their criterion check in
    ``bounded_knn_bound_check``."""
    ep, q = _fitted_profile(spark, sf_dir)
    saved = ep.multipler
    ep.multipler = float(ep.index.nlist)
    try:
        res = ep.search(q, K, require_acc=1.0)
    finally:
        ep.multipler = saved
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_bounded_bound_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paper's end-to-end correctness criterion
    (eval/bound.cpp:404-414) as assertion rows, one per bounded mode:
    - ``fixed``: worst-case over queries of threshold-recall ≥
      1 − BOUND under the uniform bound;
    - ``mixed``: per-query bounds cycling {0.1 … 0.9} by qid (the
      reference's distributed workload shape, dist/worker.cpp:255-259)
      — every query's threshold-recall must meet ITS OWN bound.
    The oracle states both criteria must hold; a hash mismatch means
    the engine broke its error contract."""
    ep, q = _fitted_profile(spark, sf_dir)
    # ONE pruned collect (the query set is nq rows) serves the query
    # count, the mixed-bound assignment AND the query frame of all
    # three overlapped jobs below. r10 earlier shape: a qid collect
    # through a distributed orderBy (range-sampling pass) plus a second
    # orderBy inside the mixed search, and each branch re-scanned the
    # query parquet for its own toPandas. The driver sort is exact and
    # the local-relation frame preserves row order, so the mixed accs
    # stay aligned to sorted qid exactly as before; values are the
    # float32 embeddings widened to float64 (exact), the same widening
    # every GEMM kernel applies when it builds qmat.
    qrows = q.select("qid", "vec").collect()
    qrows.sort(key=lambda r: r["qid"])
    qids = [r["qid"] for r in qrows]
    n = len(qids)
    accs = np.array([0.1 + 0.1 * (i % 9) for i in range(n)])
    q_local = spark.createDataFrame(
        [(int(r["qid"]), [float(x) for x in r["vec"]]) for r in qrows],
        "qid bigint, vec array<double>",
    )

    # the exact GT scan and the two bounded searches are independent
    # jobs — overlap them from a small driver thread pool (guide §2.6)
    # so the GT GEMM back-fills executors idled by the searches' stage
    # tails. GT is collected ONCE and both criteria evaluate against it
    # in numpy — r09's plan recomputed the full GT scan for each of the
    # two threshold_recall actions (the heaviest stage, twice).
    from concurrent.futures import ThreadPoolExecutor

    def _gt_pdf():
        return (
            knn_exact(q_local, _emb_base(spark, sf_dir), K, Metric.L2)
            .select("qid", "pos", "dist")
            .toPandas()
        )

    def _search_fixed():
        return (
            ep.search(q_local, K, require_acc=1.0 - BOUND)
            .select("qid", "dist")
            .toPandas()
        )

    def _search_mixed():
        return (
            ep.search(q_local, K, require_acc=accs)
            .select("qid", "dist")
            .toPandas()
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_gt, f_f, f_m = (
            pool.submit(_gt_pdf),
            pool.submit(_search_fixed),
            pool.submit(_search_mixed),
        )
        gt, res_f, res_m = f_gt.result(), f_f.result(), f_m.result()

    # threshold recall (inter_sec, eval/bound.cpp:117-128) in numpy —
    # identical arithmetic to operators.recall.threshold_recall (same
    # eps, same count/K division), evaluated on the collected frames
    gt_kth = gt[gt["pos"] < K].groupby("qid")["dist"].max()

    def _recall(pdf):
        kth = pdf["qid"].map(gt_kth).to_numpy()
        ok = (pdf["dist"].to_numpy() <= kth + 1e-6).astype(np.int64)
        import pandas as pd

        return pd.Series(ok).groupby(pdf["qid"].to_numpy()).sum() / float(K)

    rec_f = _recall(res_f)
    # worst_case_bound_holds semantics: min over queries present in the
    # result ≥ 1 − bound, empty result fails
    holds_f = bool(len(rec_f) > 0 and rec_f.min() >= 1.0 - BOUND)
    rec_m = _recall(res_m)
    acc_of = {int(qid): float(a) for qid, a in zip(qids, accs)}
    margin = rec_m.to_numpy() - np.array([acc_of[int(i)] for i in rec_m.index])
    holds_m = bool(len(rec_m) == n and margin.min() >= -1e-9)
    return spark.createDataFrame(
        [("fixed", int(n), holds_f), ("mixed", int(n), holds_m)],
        "variant string, n_queries bigint, bound_holds boolean",
    )


# --- LLM-pipeline family: dedup / text / similarity (north-star) --------

JACCARD_T = 0.2
COS_T = 0.4
N_MINHASH = 8
NGRAM_MAX_DF = 500  # ngram_jaccard stop-shingle document-frequency cap
ANN_K = 5


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auncel_spark.operators.dedup import exact_dedup

    return exact_dedup(load(spark, sf_dir, "documents")).select(
        "id", "canonical_id", "is_dup"
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auncel_spark.operators.dedup import minhash_signatures

    # shared corpus tokenization (_toked_docs): the split/lower/trim
    # pass is the materialize-once token-table step every text query
    # reads; tokens() is deterministic, so signatures are unchanged
    return minhash_signatures(
        _toked_docs(spark, sf_dir), n_hashes=N_MINHASH, id_col="id", tokens_col="_tok"
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auncel_spark.operators.dedup import ngram_jaccard

    out = ngram_jaccard(
        _toked_docs(spark, sf_dir),
        threshold=JACCARD_T,
        max_doc_freq=NGRAM_MAX_DF,
        id_col="id",
        tokens_col="_tok",
    )
    return out.select(
        "id_a", "id_b", F.floor(F.col("jaccard") * 1e6).cast("bigint").alias("jaccard_u")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auncel_spark.operators.dedup import simhash

    return simhash(_toked_docs(spark, sf_dir), id_col="id", tokens_col="_tok")


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auncel_spark.operators.dedup import embedding_near_dup

    out = embedding_near_dup(load(spark, sf_dir, "embeddings"), threshold=COS_T)
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path of embedding near-dup (sign-LSH buckets +
    multi-probe + exact verify) exercised explicitly — and made
    oracle-checkable despite LSH being approximate: the corpus is
    unioned with an exact clone of itself at id+1,000,000. Identical
    vectors land in identical buckets, so LSH recall on the planted
    pairs is exactly 1; the fixtures' natural pairs top out at cos
    ≈ 0.51 (below the 0.9 threshold), so the result is precisely one
    (i, i+10⁶, 1.0) row per vector — pure SQL on the oracle side,
    while the Spark side runs the full bucketize → multi-probe →
    bucket-join → exact-verify plan."""
    from auncel_spark.operators.dedup import embedding_near_dup_lsh

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clones = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    out = embedding_near_dup_lsh(emb.unionByName(clones), threshold=0.9)
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column (the ANN
    baseline; the IVF path is the scale variant)."""
    res = knn_exact(
        _emb_queries(spark, sf_dir),
        _emb_base(spark, sf_dir),
        ANN_K,
        Metric.COSINE,
    )
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for ann_cosine_topk (which is the brute-force
    baseline): L2-normalize, then IVF with the IP metric — dot on unit
    vectors IS cosine, so a probed-list scan replaces the
    full cross join. Seed-IVF trick keeps it oracle-expressible."""
    from auncel_spark.functions.vector import l2_normalize
    from auncel_spark.index.ivf import IVFIndex

    def _norm_base():
        return _emb_base(spark, sf_dir).select(
            "id", l2_normalize("vec").alias("vec")
        )

    def _build():
        cents = _seed_centroids(spark, sf_dir, NLIST)
        cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        return IVFIndex.build(
            _norm_base(), nlist=NLIST, centroids=cents, metric=Metric.IP
        )

    idx = _cached(sf_dir, "seed_ivf_cosine", _build)
    q = _emb_queries(spark, sf_dir).select("qid", l2_normalize("vec").alias("vec"))
    res = idx.search(q, ANN_K, nprobe=NPROBE)
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload → deterministic fake feature
    vector (L1-normalized byte histogram). Oracle-checked: the exact
    bucket COUNTS are recovered from the float32 features by
    round(v·n_bytes) — integers hash identically across engines, so the
    full Arrow plumbing (payload attach → kernel → feature column) is
    gated, not just row counts. The SQL replays the byte histogram via
    ascii() (the documents fixture is pure ASCII — byte == code point,
    asserted in the oracle by octet_length = length)."""
    from auncel_spark.operators.multimodal import attach_binary_payload, extract_byte_features

    docs = load(spark, sf_dir, "documents")
    mm = attach_binary_payload(docs)
    # n_bytes comes out of the extraction kernel itself (it IS the
    # histogram total) — the former join back onto mm re-scanned and
    # re-encoded the whole source just to fetch a length (r10 §11)
    feats = extract_byte_features(mm, with_n_bytes=True)
    return (
        feats.select("id", F.col("n_bytes").alias("nb"), F.posexplode("feature").alias("dim", "v"))
        .select(
            "id",
            F.col("dim").cast("bigint").alias("dim"),
            F.round(F.col("v").cast("double") * F.col("nb")).cast("bigint").alias("cnt"),
        )
    )


def q_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode over the documents table: each doc's first 64
    text bytes (space-padded) become a 16×4 grayscale PNG whose
    per-scanline filter varies with (doc_id + row) % 5 — every PNG
    filter type is exercised across the corpus — then the engine's
    dependency-free decoder (zlib inflate + numpy un-filtering,
    operators/multimodal.py) recovers shape and the EXACT integer
    pixel sum. The oracle replays the sum from the characters
    directly, so compression, filtering, and un-filtering must all
    round-trip bit-exactly for the hashes to match."""
    from typing import Iterator

    from auncel_spark.operators.multimodal import decode_png, encode_png_bytes

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def make(batches: Iterator):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids, payloads = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                buf = t.encode("utf-8")[:64].ljust(64, b" ")
                px = np.frombuffer(buf, dtype=np.uint8).reshape(4, 16)
                filters = [(int(i) + y) % 5 for y in range(4)]
                ids.append(int(i))
                payloads.append(bytearray(encode_png_bytes(px, filters=filters)))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    payload_df = docs.mapInPandas(make, "id bigint, payload binary")
    return decode_png(payload_df)


# --- oracle SQL (DuckDB dialect, float64 arithmetic) --------------------

_Q_CTE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE {QUERY_FILTER}
)
"""

_ORACLE_KNN_L2 = (
    _Q_CTE
    + f"""
, d AS (
  SELECT q.qid, b.vec_id AS id,
         list_distance(q.qv, b.embedding::DOUBLE[]) AS dist
  FROM q CROSS JOIN embeddings b
), r AS (
  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM d
)
SELECT qid, rn - 1 AS pos, id FROM r WHERE rn <= {K}
"""
)

_ORACLE_KNN_IP = (
    _Q_CTE
    + f"""
, d AS (
  SELECT q.qid, b.vec_id AS id,
         -list_inner_product(q.qv, b.embedding::DOUBLE[]) AS dist
  FROM q CROSS JOIN embeddings b
), r AS (
  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM d
)
SELECT qid, rn - 1 AS pos, id FROM r WHERE rn <= {K}
"""
)

_ORACLE_RANGE = (
    _Q_CTE
    + f"""
SELECT q.qid, b.vec_id AS id
FROM q CROSS JOIN embeddings b
WHERE list_distance(q.qv, b.embedding::DOUBLE[]) ** 2 < {RANGE_RADIUS}
"""
)

_ORACLE_RERANK = (
    _Q_CTE
    + f"""
, cand AS (
  SELECT qid, id FROM (
    SELECT q.qid, b.vec_id AS id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY -list_inner_product(q.qv, b.embedding::DOUBLE[]), b.vec_id
           ) AS rn
    FROM q CROSS JOIN embeddings b
  ) WHERE rn <= 50
), rr AS (
  SELECT c.qid, c.id,
         row_number() OVER (
           PARTITION BY c.qid
           ORDER BY list_distance(q.qv, b.embedding::DOUBLE[]), c.id
         ) AS rn
  FROM cand c
  JOIN embeddings b ON b.vec_id = c.id
  JOIN q ON q.qid = c.qid
)
SELECT qid, rn - 1 AS pos, id FROM rr WHERE rn <= {K}
"""
)

_ORACLE_RECALL = (
    _Q_CTE
    + f"""
, l2 AS (
  SELECT qid, id FROM (
    SELECT q.qid, b.vec_id AS id,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, b.embedding::DOUBLE[]), b.vec_id
           ) AS rn
    FROM q CROSS JOIN embeddings b
  ) WHERE rn <= {K}
), ip AS (
  SELECT qid, id FROM (
    SELECT q.qid, b.vec_id AS id,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY -list_inner_product(q.qv, b.embedding::DOUBLE[]), b.vec_id
           ) AS rn
    FROM q CROSS JOIN embeddings b
  ) WHERE rn <= {K}
)
SELECT ip.qid, round(count(l2.id) / {K}.0, 6) AS recall
FROM ip LEFT JOIN l2 ON ip.qid = l2.qid AND ip.id = l2.id
GROUP BY ip.qid
"""
)


_CENT_CTE = f"""
, c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < {NLIST}
), assign AS (
  SELECT id, list_no FROM (
    SELECT b.vec_id AS id, c.cid AS list_no,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_distance(b.embedding::DOUBLE[], c.cv), c.cid
           ) AS rn
    FROM embeddings b CROSS JOIN c
  ) WHERE rn = 1
)
"""

_ORACLE_ASSIGN = (
    _Q_CTE + _CENT_CTE + "\nSELECT id, list_no::BIGINT AS list_no FROM assign"
)

_ORACLE_KMEANS_UPDATE = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < {KM_K}
), assign AS (
  SELECT id, list_no, emb FROM (
    SELECT b.vec_id AS id, c.cid AS list_no, b.embedding::DOUBLE[] AS emb,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_distance(b.embedding::DOUBLE[], c.cv), c.cid
           ) AS rn
    FROM embeddings b CROSS JOIN c
  ) WHERE rn = 1
)
SELECT list_no::BIGINT AS list_no, r.i::BIGINT AS dim,
       round(avg(emb[r.i]), 6) AS val
FROM assign, range(1, 65) r(i)
GROUP BY list_no, r.i
"""

_ORACLE_IVF_SEARCH = (
    _Q_CTE
    + _CENT_CTE
    + f"""
, probes AS (
  SELECT qid, list_no FROM (
    SELECT q.qid, c.cid AS list_no,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, c.cv), c.cid
           ) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {NPROBE}
), cand AS (
  SELECT q.qid, a.id, list_distance(q.qv, b.embedding::DOUBLE[]) AS dist
  FROM probes p
  JOIN assign a ON a.list_no = p.list_no
  JOIN q ON q.qid = p.qid
  JOIN embeddings b ON b.vec_id = a.id
), r AS (
  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM cand
)
SELECT qid, rn - 1 AS pos, id FROM r WHERE rn <= {K}
"""
)

_ORACLE_LIST_SIZES = (
    _Q_CTE
    + _CENT_CTE
    + "\nSELECT list_no::BIGINT AS list_no, count(*) AS cnt FROM assign GROUP BY list_no"
)

# IMI with seeded half-space quantizers replicated in SQL: the first
# IMI_KSUB embeddings' halves are the sub-codebooks; assignment = two
# half-argmins composed as a*ksub+b; probe ranking = d0(a)+d1(b)
# (multi-sequence order); candidate scan + top-k as in IVF.
_ORACLE_IMI = (
    _Q_CTE
    + f"""
, c0 AS (
  SELECT vec_id AS cid, embedding[1:32]::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < {IMI_KSUB}
), c1 AS (
  SELECT vec_id AS cid, embedding[33:64]::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < {IMI_KSUB}
), a0 AS (
  SELECT id, cid AS a FROM (
    SELECT b.vec_id AS id, c0.cid,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_distance(b.embedding[1:32]::DOUBLE[], c0.cv), c0.cid
           ) AS rn
    FROM embeddings b CROSS JOIN c0
  ) WHERE rn = 1
), a1 AS (
  SELECT id, cid AS a FROM (
    SELECT b.vec_id AS id, c1.cid,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_distance(b.embedding[33:64]::DOUBLE[], c1.cv), c1.cid
           ) AS rn
    FROM embeddings b CROSS JOIN c1
  ) WHERE rn = 1
), assign AS (
  SELECT a0.id, a0.a * {IMI_KSUB} + a1.a AS list_no
  FROM a0 JOIN a1 ON a0.id = a1.id
), cells AS (
  SELECT q.qid, c0.cid * {IMI_KSUB} + c1.cid AS cell,
         list_distance(q.qv[1:32], c0.cv) ** 2
         + list_distance(q.qv[33:64], c1.cv) ** 2 AS cd
  FROM q CROSS JOIN c0 CROSS JOIN c1
), probes AS (
  SELECT qid, cell FROM (
    SELECT qid, cell, row_number() OVER (PARTITION BY qid ORDER BY cd, cell) AS rn
    FROM cells
  ) WHERE rn <= 8
), cand AS (
  SELECT q.qid, a.id, list_distance(q.qv, b.embedding::DOUBLE[]) AS dist
  FROM probes p
  JOIN assign a ON a.list_no = p.cell
  JOIN q ON q.qid = p.qid
  JOIN embeddings b ON b.vec_id = a.id
), r AS (
  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM cand
)
SELECT qid, rn - 1 AS pos, id FROM r WHERE rn <= {K}
"""
)

# 4-bit SQ codec replicated in SQL: minmax per-dim stats, code =
# clip(floor((x-lo)/diff*15), 0, 15), decode = lo + (code+0.5)/15*diff
# (same float64 op order as ScalarQuantizer.encode_np/decode_np), then
# the same probes/assign scan as _ORACLE_IVF_SEARCH over decoded
# vectors. Identical codes decode to identical vectors, so distance
# ties are exact in both engines and the (dist, id) order agrees.
_ORACLE_IVFSQ4 = (
    _Q_CTE
    + _CENT_CTE
    + f"""
, stats AS (
  SELECT r.i AS dim,
         min(b.embedding[r.i]::DOUBLE) AS lo,
         max(b.embedding[r.i]::DOUBLE) AS hi
  FROM embeddings b, range(1, 65) r(i)
  GROUP BY r.i
), sdiff AS (
  SELECT dim, lo, CASE WHEN hi - lo = 0 THEN 1.0 ELSE hi - lo END AS diff
  FROM stats
), dec AS (
  SELECT b.vec_id AS id,
         list(s.lo + (LEAST(GREATEST(floor((b.embedding[s.dim]::DOUBLE - s.lo)
                / s.diff * 15), 0), 15) + 0.5) / 15 * s.diff
              ORDER BY s.dim) AS dv
  FROM embeddings b, sdiff s
  GROUP BY b.vec_id
), probes AS (
  SELECT qid, list_no FROM (
    SELECT q.qid, c.cid AS list_no,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, c.cv), c.cid
           ) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {NPROBE}
), cand AS (
  SELECT q.qid, a.id, list_distance(q.qv, d.dv) AS dist
  FROM probes p
  JOIN assign a ON a.list_no = p.list_no
  JOIN q ON q.qid = p.qid
  JOIN dec d ON d.id = a.id
), r AS (
  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM cand
)
SELECT qid, rn - 1 AS pos, id FROM r WHERE rn <= {K}
"""
)


# --- binary path, autotune criterion, events windows --------------------


def q_hamming_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13/O14: sign-binarized embeddings, brute Hamming top-k."""
    from auncel_spark.index.binary import float_to_binary, hamming_knn

    emb_bits = float_to_binary(_emb_base(spark, sf_dir)).select("id", "bits")
    q = emb_bits.filter(f"id % 20 = 0").select(
        F.col("id").alias("qid"), F.col("bits")
    )
    res = hamming_knn(q, emb_bits, K)
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_events_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation (the streaming plan's batch
    expression — Structured Streaming produces identical results on the
    same input; see streaming/ingest.py)."""
    from auncel_spark.streaming.ingest import windowed_event_stats_expr

    out = windowed_event_stats_expr(load(spark, sf_dir, "events"))
    return out.select(
        F.unix_timestamp("window_start").cast("bigint").alias("window_epoch"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.floor(F.col("sum_value") * 1000).cast("bigint").alias("sum_value_m"),
    )


def q_events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational-core window top-k on the events table: top-3 users by
    total value per event type."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    totals = ev.groupBy("event_type", "user_id").agg(F.sum("value").alias("total"))
    w = W.partitionBy("event_type").orderBy(F.col("total").desc(), F.col("user_id").asc())
    return (
        totals.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "event_type", F.col("rk").cast("bigint").alias("rk"), "user_id"
        )
    )


def q_corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline integration: per language — doc count, docs passing a
    quality floor, total whitespace tokens, distinct fingerprints.
    Composes text-quality, token-count and fingerprint operators in one
    aggregation (the shape of a real curation job's summary)."""
    from auncel_spark.functions.text import fingerprint_df, quality_score, token_count

    docs = load(spark, sf_dir, "documents")
    # fp + the per-doc metrics threaded through ONE scan (carry=) —
    # the former second scan + join back on id was pure redundancy
    # (doc_id is unique, so the inner join equals a projection carry)
    per_doc = fingerprint_df(
        docs,
        carry=[
            F.col("lang"),
            token_count(F.col("text")).cast("bigint").alias("n_tok"),
            (F.floor(quality_score(F.col("text")) * 1e6) >= 500_000).alias("keep"),
        ],
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        F.sum("n_tok").alias("total_tokens"),
        F.countDistinct("fp").alias("n_fingerprints"),
    )


def q_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O31 MatrixStats: per-dimension corpus profile of the embedding
    column."""
    from auncel_spark.operators.flat import matrix_stats

    st = matrix_stats(_emb_base(spark, sf_dir))
    return st.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.floor(F.col("min_v") * 1e6).cast("bigint").alias("min_u"),
        F.floor(F.col("max_v") * 1e6).cast("bigint").alias("max_u"),
        F.floor(F.col("mean_v") * 1e6).cast("bigint").alias("mean_u"),
        F.col("n_zero").cast("bigint").alias("n_zero"),
    )


def q_knn_base_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 BaseShift: L2² minus a per-row shift (label/10 here) changes
    the ranking — exercises the shifted-distance path."""
    from auncel_spark.operators.flat import knn_base_shift

    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        (F.col("label").cast("double") / 10.0).alias("shift"),
    )
    res = knn_base_shift(_emb_queries(spark, sf_dir), base, K)
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_knn_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 Flat1D: nearest order-totalprice scalars for a probe set."""
    from auncel_spark.operators.flat import knn_1d

    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("val")
    )
    q = spark.createDataFrame(
        [(0, 1000.0), (1, 50000.0), (2, 150000.0)], "qid bigint, val double"
    )
    res = knn_1d(q, base, 5)
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_time_bounded_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O28: latency-budgeted anytime search (reference time_tune mode,
    eval/effect_time.cpp). The anytime contract: budget → ∞ must
    converge to the exact scan (the loop probes until budget or index
    exhaustion, IndexIVF.cpp:545-549) — so under a generous budget the
    staged output IS hash-exactly the exact-kNN oracle (VERDICT r05
    Next #4: this was rows-only; r06 found the capped stage ladder
    broke the convergence contract and fixed it). Tight-budget
    satisfaction semantics stay pytest- and scale-bench-covered
    (run_effect_time)."""
    ep, q = _fitted_profile(spark, sf_dir)
    res = ep.time_search(q, K, budget_ms=1e7)
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


PQ_KSUB = 16  # seeded PQ codewords per subspace (seed-IVF trick on PQ)
PQ_M1 = 8  # first-level subspaces (dsub = 8 at d = 64)
PQ_M2 = 16  # IVFPQR refine subspaces (dsub = 4)
NPROBE_PQ = 8
PQ_KFACTOR = 4


def _seed_pq(spark: SparkSession, sf_dir: str):
    """Seeded deterministic PQ codebooks, SQL-replayable (the seed-IVF
    trick applied to PQ, VERDICT r02 Next #6): first-level codewords =
    coarse residuals of embeddings [NLIST, NLIST+PQ_KSUB) sliced into
    PQ_M1 subspaces; refine codewords = second-order residuals (r −
    decode₁(encode₁(r))) of embeddings [NLIST+PQ_KSUB, NLIST+2·PQ_KSUB)
    sliced into PQ_M2 subspaces. Distinct seed rows for the two levels:
    reusing the first-level seeds would make their own r₂ ≡ 0 and every
    refine codeword degenerate."""
    from auncel_spark.index.pq import ProductQuantizer

    rows = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < NLIST + 2 * PQ_KSUB)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])  # driver sort, no sampling pass
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cents = mat[:NLIST]
    s1 = mat[NLIST : NLIST + PQ_KSUB]
    s2 = mat[NLIST + PQ_KSUB : NLIST + 2 * PQ_KSUB]

    def _resid(x):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        return x - cents[d2.argmin(axis=1)]

    d = mat.shape[1]
    r1 = _resid(s1)
    books1 = np.stack(
        [r1[:, m * (d // PQ_M1) : (m + 1) * (d // PQ_M1)] for m in range(PQ_M1)]
    )
    pq1 = ProductQuantizer(books1)
    rs2 = _resid(s2)
    rr = rs2 - pq1.decode_np(pq1.encode_np(rs2))
    books2 = np.stack(
        [rr[:, m * (d // PQ_M2) : (m + 1) * (d // PQ_M2)] for m in range(PQ_M2)]
    )
    return pq1, ProductQuantizer(books2)


def q_ivfpq_refine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8+O9: residual IVF-PQ ADC candidates, exact re-rank (the
    compressed 100 TB path). Oracle-checked via seeded codebooks
    (_seed_pq): the SQL replays assignment → residual → per-subspace
    argmin encode → reconstruction → ADC candidate top-k·k_factor →
    exact re-rank. ADC distance ≡ |q − (c + z₁)|², so the oracle scores
    reconstructions directly."""
    from auncel_spark.index.ivfpq import IVFPQIndex

    base = _emb_base(spark, sf_dir)

    def _build():
        cents = _seed_centroids(spark, sf_dir, NLIST)
        pq1, _ = _seed_pq(spark, sf_dir)
        return IVFPQIndex.build(base, nlist=NLIST, centroids=cents, pq=pq1)

    idx = _cached(sf_dir, "ivfpq", _build)
    res = idx.search_refine(
        _emb_queries(spark, sf_dir), base, K, nprobe=NPROBE_PQ, k_factor=PQ_KFACTOR
    )
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_ivfpqr_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 IVFPQR (IndexIVFPQ.h:155): second-level residual PQ refine —
    re-ranking reconstructs candidates from CODES ONLY (c + z1 + z2),
    never reading raw vectors; the variant that matters when the
    uncompressed corpus is too big to scan. Oracle-checked via seeded
    two-level codebooks (_seed_pq); the SQL replays both encodes and
    re-ranks by |q − (c + z₁ + z₂)|².
    tests/test_extended_indexes.py pins its recall between plain ADC
    and exact refine."""
    from auncel_spark.index.ivfpq import IVFPQRIndex

    def _build():
        cents = _seed_centroids(spark, sf_dir, NLIST)
        pq1, pq2 = _seed_pq(spark, sf_dir)
        return IVFPQRIndex.build(
            _emb_base(spark, sf_dir), nlist=NLIST, centroids=cents,
            pq=pq1, refine_pq=pq2,
        )

    idx = _cached(sf_dir, "ivfpqr", _build)
    res = idx.search(
        _emb_queries(spark, sf_dir), K, nprobe=NPROBE_PQ, k_factor=PQ_KFACTOR
    )
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


# Seeded-PQ oracles: replay residual encode + ADC + refine in SQL.
# Shared prefix: assignment (from _CENT_CTE), first-level codewords s1
# (coarse residuals of seeds), per-vector residual rvb, per-subspace
# argmin codes, reconstruction xhat = c + z1. ADC residual-L2 distance
# ≡ |q − xhat|² (the term1+term2+term3 decomposition telescopes), so
# ordering by list_distance(q, xhat) matches the engine's LUT kernel.
_PQ_CTE = f"""
, s1 AS (
  SELECT b.vec_id - {NLIST} AS j,
         list_transform(generate_series(1, 64),
                        i -> b.embedding[i]::DOUBLE - cv.cv[i]) AS rv
  FROM embeddings b
  JOIN assign a ON a.id = b.vec_id
  JOIN c cv ON cv.cid = a.list_no
  WHERE b.vec_id >= {NLIST} AND b.vec_id < {NLIST + PQ_KSUB}
), rvb AS (
  SELECT a.id,
         list_transform(generate_series(1, 64),
                        i -> b.embedding[i]::DOUBLE - cv.cv[i]) AS rv
  FROM assign a
  JOIN embeddings b ON b.vec_id = a.id
  JOIN c cv ON cv.cid = a.list_no
), codes AS (
  SELECT id, m, j FROM (
    SELECT r.id, mm.m, s.j,
           row_number() OVER (
             PARTITION BY r.id, mm.m
             ORDER BY list_distance(r.rv[mm.m*8+1 : mm.m*8+8],
                                    s.rv[mm.m*8+1 : mm.m*8+8]), s.j
           ) AS rn
    FROM rvb r, range(0, {PQ_M1}) mm(m), s1 s
  ) WHERE rn = 1
), xhat AS (
  SELECT a.id, list(cv.cv[d.i] + s.rv[d.i] ORDER BY d.i) AS xv
  FROM assign a
  JOIN c cv ON cv.cid = a.list_no, range(1, 65) d(i)
  JOIN codes k ON k.id = a.id AND k.m = CAST(floor((d.i - 1) / 8) AS INTEGER)
  JOIN s1 s ON s.j = k.j
  GROUP BY a.id
), pqprobes AS (
  SELECT qid, list_no FROM (
    SELECT q.qid, c.cid AS list_no,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, c.cv), c.cid
           ) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {NPROBE_PQ}
), pqcand AS (
  SELECT qid, id FROM (
    SELECT q.qid, a.id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY list_distance(q.qv, x.xv), a.id
           ) AS rn
    FROM pqprobes p
    JOIN assign a ON a.list_no = p.list_no
    JOIN q ON q.qid = p.qid
    JOIN xhat x ON x.id = a.id
  ) WHERE rn <= {K * PQ_KFACTOR}
)
"""

_ORACLE_IVFPQ_REFINE = (
    _Q_CTE
    + _CENT_CTE
    + _PQ_CTE
    + f"""
, rr AS (
  SELECT cd.qid, cd.id,
         row_number() OVER (
           PARTITION BY cd.qid
           ORDER BY list_distance(q.qv, b.embedding::DOUBLE[]), cd.id
         ) AS rn
  FROM pqcand cd
  JOIN q ON q.qid = cd.qid
  JOIN embeddings b ON b.vec_id = cd.id
)
SELECT qid, rn - 1 AS pos, id FROM rr WHERE rn <= {K}
"""
)

# IVFPQR: second-level codewords s2 = second-order residuals
# (emb − xhat) of the NEXT PQ_KSUB seed rows; codes2 = refine encode;
# re-rank by |q − (xhat + z₂)|² — codes-only, like the engine.
_ORACLE_IVFPQR = (
    _Q_CTE
    + _CENT_CTE
    + _PQ_CTE
    + f"""
, s2 AS (
  SELECT b.vec_id - {NLIST + PQ_KSUB} AS j,
         list_transform(generate_series(1, 64),
                        i -> b.embedding[i]::DOUBLE - x.xv[i]) AS rv
  FROM embeddings b
  JOIN xhat x ON x.id = b.vec_id
  WHERE b.vec_id >= {NLIST + PQ_KSUB} AND b.vec_id < {NLIST + 2 * PQ_KSUB}
), r2 AS (
  SELECT b.vec_id AS id,
         list_transform(generate_series(1, 64),
                        i -> b.embedding[i]::DOUBLE - x.xv[i]) AS rv
  FROM embeddings b
  JOIN xhat x ON x.id = b.vec_id
), codes2 AS (
  SELECT id, m, j FROM (
    SELECT r.id, mm.m, s.j,
           row_number() OVER (
             PARTITION BY r.id, mm.m
             ORDER BY list_distance(r.rv[mm.m*4+1 : mm.m*4+4],
                                    s.rv[mm.m*4+1 : mm.m*4+4]), s.j
           ) AS rn
    FROM r2 r, range(0, {PQ_M2}) mm(m), s2 s
  ) WHERE rn = 1
), xhat2 AS (
  SELECT x.id, list(x.xv[d.i] + s.rv[d.i] ORDER BY d.i) AS xv
  FROM xhat x, range(1, 65) d(i)
  JOIN codes2 k ON k.id = x.id AND k.m = CAST(floor((d.i - 1) / 4) AS INTEGER)
  JOIN s2 s ON s.j = k.j
  GROUP BY x.id
), rr AS (
  SELECT cd.qid, cd.id,
         row_number() OVER (
           PARTITION BY cd.qid
           ORDER BY list_distance(q.qv, x2.xv), cd.id
         ) AS rn
  FROM pqcand cd
  JOIN q ON q.qid = cd.qid
  JOIN xhat2 x2 ON x2.id = cd.id
)
SELECT qid, rn - 1 AS pos, id FROM rr WHERE rn <= {K}
"""
)


def _laet_model(spark: SparkSession, sf_dir: str):
    """The fitted LAET model (GBT probe-budget predictor), built once
    per sf_dir. Exposed separately from q_laet_knn so bench warm-up
    can pay the fit outside the timed query window — the reference's
    protocol also trains the predictor offline and times only search
    (LAET/benchs/learned_termination pipeline)."""
    from auncel_spark.profile.laet import LearnedTermination

    q = _emb_queries(spark, sf_dir)

    def _build():
        lt = LearnedTermination(_seed_ivf(spark, sf_dir), max_topk=50, multiplier=2.0)
        lt.fit(q, K, target_recall=0.9)
        return lt

    return _cached(sf_dir, "laet", _build)


LAET_TARGET = 0.9  # fit target_recall; the entry's asserted floor


def _overlap_contract_jobs(spark, q, search_fn, sf_dir):
    """Shared shape of the assertion-row ANN contracts (laet/hnsw):
    the method's search, the exact-GT scan, and the query count are
    independent Spark jobs — run them from a driver thread pool so each
    job's stage tail back-fills the executors (guide §2.6). Returns
    (n_queries, result_pdf(qid, dist), gt_pdf(qid, pos, dist))."""
    from concurrent.futures import ThreadPoolExecutor

    def _gt_pdf():
        return (
            knn_exact(q, _emb_base(spark, sf_dir), K, Metric.L2)
            .select("qid", "pos", "dist")
            .toPandas()
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_res = pool.submit(lambda: search_fn().select("qid", "dist").toPandas())
        f_gt = pool.submit(_gt_pdf)
        f_n = pool.submit(q.count)
        return f_n.result(), f_res.result(), f_gt.result()


def _mean_threshold_recall(res_pdf, gt_pdf) -> float:
    """Mean per-query threshold recall (inter_sec,
    eval/bound.cpp:117-128) over collected frames — the same
    count(dist ≤ gt_kth + 1e-6)/K arithmetic as
    operators.recall.threshold_recall, without re-running the GT scan
    per consumer."""
    import pandas as pd

    gt_kth = gt_pdf[gt_pdf["pos"] < K].groupby("qid")["dist"].max()
    kth = res_pdf["qid"].map(gt_kth).to_numpy()
    ok = (res_pdf["dist"].to_numpy() <= kth + 1e-6).astype(np.int64)
    rec = pd.Series(ok).groupby(res_pdf["qid"].to_numpy()).sum() / float(K)
    return float(rec.mean())


def q_laet_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18: LAET-style learned termination — GBT-predicted per-query
    probe budgets. The per-query result rows aren't SQL-replayable (a
    learned model picks nprobe), so the entry returns the method's OWN
    correctness contract as an oracle-checkable assertion row
    (VERDICT r05 Next #4, the bound_check pattern): mean
    threshold-recall vs the exact scan ≥ the fit target
    (``LAET/benchs/learned_termination/run.sh`` trains to a recall
    target and reports achieved recall), plus the row-production
    invariant n_result_rows = n_queries · K. Measured margin: mean
    recall 1.0 at sf0.01 AND sf0.1 vs the 0.9 floor."""
    q = _emb_queries(spark, sf_dir)
    lt = _laet_model(spark, sf_dir)
    # search / GT / count are independent — overlap them (guide §2.6);
    # the collected GT serves the recall criterion in numpy, and the
    # collected result frame serves BOTH the recall and the row-count
    # invariant (r09 ran threshold_recall and res.count() as separate
    # actions, materializing the search result twice)
    n, res, gt = _overlap_contract_jobs(
        spark, q, lambda: lt.search(q, K), sf_dir
    )
    mean_rec = _mean_threshold_recall(res, gt)
    return spark.createDataFrame(
        [(int(n), int(len(res)), bool(mean_rec >= LAET_TARGET))],
        "n_queries bigint, n_result_rows bigint, recall_target_met boolean",
    )


HNSW_RECALL_FLOOR = 0.95  # asserted floor; measured 1.0 (sf0.01), 0.995 (sf0.1)


def _hnsw_index(spark: SparkSession, sf_dir: str):
    """Build-or-get the sharded HNSW graph for this sf_dir (process
    cache). Factored out of q_hnsw_knn so the bench can pre-fit it
    outside the timed window, the same offline-build posture as
    ``_laet_model`` (the reference builds indexes offline; its
    baselines time search against a loaded index)."""
    import tempfile

    from auncel_spark.index.hnsw import ShardedHNSWIndex

    def _build():
        path = tempfile.mkdtemp(prefix="auncel_hnsw_")
        return ShardedHNSWIndex.build(
            _emb_base(spark, sf_dir), path, n_shards=4, M=8, ef_construction=40, seed=3
        )

    return _cached(sf_dir, "hnsw_sharded", _build)


def q_hnsw_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12/B13: distributed sharded HNSW (per-shard graphs built in
    executors via applyInPandas, broadcast-queries search kernel,
    window top-k merge — faiss IndexShards composition). Graph search
    isn't SQL-expressible per row, so the entry returns the recall
    contract as an oracle-checkable assertion row (VERDICT r05 Next
    #4, the bound_check pattern; tests/test_index.py semantics): mean
    threshold-recall vs the exact scan ≥ HNSW_RECALL_FLOOR, plus
    n_result_rows = n_queries · K."""
    h = _hnsw_index(spark, sf_dir)
    q = _emb_queries(spark, sf_dir)
    # overlapped contract jobs + single GT collect (see q_laet_knn)
    n, res, gt = _overlap_contract_jobs(
        spark, q, lambda: h.search(q, K, ef_search=64), sf_dir
    )
    mean_rec = _mean_threshold_recall(res, gt)
    return spark.createDataFrame(
        [(int(n), int(len(res)), bool(mean_rec >= HNSW_RECALL_FLOOR))],
        "n_queries bigint, n_result_rows bigint, recall_target_met boolean",
    )


def q_imi_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10: inverted multi-index coarse quantizer — oracle-checked via
    seeded sub-quantizers (the first IMI_KSUB embeddings' halves), the
    seed-IVF trick applied to the cartesian-product quantizer: both
    engines replay half-argmin assignment, multi-sequence cell ranking
    d0(a)+d1(b), pruned cell scan, top-k."""
    from auncel_spark.index.imi import IMIIndex

    def _build():
        rows = (
            load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < IMI_KSUB)
            .select("vec_id", "embedding")
            .collect()
        )
        rows.sort(key=lambda r: r["vec_id"])  # driver sort, no sampling pass
        full = np.array([r["embedding"] for r in rows], dtype=np.float64)
        dsub = full.shape[1] // 2
        subc = np.stack([full[:, :dsub], full[:, dsub:]])
        return IMIIndex.build(_emb_base(spark, sf_dir), sub_centroids=subc)

    idx = _cached(sf_dir, "imi", _build)
    res = idx.search(_emb_queries(spark, sf_dir), K, nprobe=8)
    return res.select("qid", F.col("pos").cast("bigint").alias("pos"), "id")


def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational core §2.4 at full depth: the TPC-H Q5 join chain
    region→nation→customer→orders→lineitem with broadcast dimension
    joins and integer-cent revenue (Catalyst picks broadcast plans for
    the small dims; AQE reorders the rest)."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ep_c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    disc_pct = F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(ep_c * (100 - disc_pct)).alias("revenue_u"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


def q_remove_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18: IDSelector deletion = anti-join; survivors of dropping
    every vec_id % 7 == 0 from the seed-centroid index."""
    idx = _seed_ivf(spark, sf_dir)
    drop = load(spark, sf_dir, "embeddings").filter("vec_id % 7 = 0").select(
        F.col("vec_id").alias("id")
    )
    kept = idx.remove_ids(drop)
    return kept.select("id", F.col("list_no").cast("bigint").alias("list_no"))


def q_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O19: reconstruct_n — fetch stored vectors by id, posexploded to
    hashable (id, dim, val) rows."""
    from auncel_spark.index.maintenance import reconstruct

    idx = _seed_ivf(spark, sf_dir)
    ids = load(spark, sf_dir, "embeddings").filter("vec_id % 50 = 0").select(
        F.col("vec_id").alias("id")
    )
    rec = reconstruct(idx, ids)
    return rec.select("id", F.posexplode("vec").alias("dim0", "v")).select(
        "id",
        (F.col("dim0") + 1).cast("bigint").alias("dim"),
        F.floor(F.col("v").cast("double") * 1e6).cast("bigint").alias("val_u"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational core §2.4 (group-by agg) at the largest fixture:
    TPC-H Q1-shaped pricing summary over lineitem."""
    li = load(spark, sf_dir, "lineitem")
    # exact integer arithmetic: prices/discounts are 2-decimal values;
    # convert to cents/percent BEFORE summing so the aggregate is
    # order-independent (float sums over 600k rows can straddle a floor
    # boundary between engines)
    qty_c = F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint")
    ep_c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    disc_pct = F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(qty_c).alias("sum_qty_c"),
            F.sum(ep_c * (100 - disc_pct)).alias("revenue_u"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


def q_top_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational core §2.4 (join + window top-k): top-3 parts by
    lineitem revenue within each brand."""
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    # integer-cent revenue (see pricing_summary): exact, so the window
    # ordering cannot flip between engines on float noise
    ep_c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    disc_pct = F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint")
    rev = li.groupBy("l_partkey").agg(F.sum(ep_c * (100 - disc_pct)).alias("rev"))
    joined = rev.join(F.broadcast(part), rev.l_partkey == part.p_partkey)
    w = W.partitionBy("p_brand").orderBy(F.col("rev").desc(), F.col("p_partkey").asc())
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "p_brand",
            F.col("rk").cast("bigint").alias("rk"),
            F.col("p_partkey").alias("partkey"),
        )
    )


# --- pipeline-family oracle SQL -----------------------------------------

_TOK_CTE = r"""
WITH tok AS (
  SELECT doc_id AS id, text,
         regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
)
"""

_SH_CTE = r"""
, sh AS (
  SELECT id, CASE WHEN len(t) >= 3
    THEN list_distinct(list_transform(range(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+2], ' ')))
    ELSE []::VARCHAR[] END AS s
  FROM tok
)
"""

_H60 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"

_ORACLE_EXACT_DEDUP = """
SELECT doc_id AS id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
FROM documents
"""

# hash i derives from md5(f"{i//2}|" + shingle): hex chars 1-15 for
# even i, 16-30 for odd i (two 60-bit hashes per digest, as the engine)
_mh_cols = ",\n  ".join(
    "coalesce(list_min(list_transform(s, x -> "
    f"CAST(concat('0x', substr(md5(concat('{i // 2}|', x)), {1 if i % 2 == 0 else 16}, 15)) AS BIGINT)"
    f")), -1) AS mh{i}"
    for i in range(N_MINHASH)
)
_SIG_CTE = _TOK_CTE + _SH_CTE + f", sig AS (SELECT id,\n  {_mh_cols}\nFROM sh)"

_ORACLE_MINHASH_SIG = _SIG_CTE + "\nSELECT * FROM sig"

_band_selects = "\n  UNION ALL ".join(
    f"SELECT id, {b} AS band, md5(concat_ws('_', mh{2*b}, mh{2*b+1})) AS key FROM sig"
    for b in range(4)
)
_ORACLE_MINHASH_LSH = (
    _SIG_CTE
    + f"""
, bands AS (
  {_band_selects}
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id
"""
)

# mirrors ngram_jaccard's document-frequency guard (max_doc_freq=500):
# stop-shingles are dropped from intersection AND union on both engines
_ORACLE_NGRAM_JACCARD = (
    _TOK_CTE
    + _SH_CTE
    + f"""
, ex0 AS (SELECT id, unnest(s) AS w FROM sh),
keep AS (SELECT w FROM ex0 GROUP BY w HAVING count(*) < {NGRAM_MAX_DF}),
exf AS (SELECT ex0.* FROM ex0 JOIN keep USING (w)),
sizes AS (SELECT id, count(*) AS ns FROM exf GROUP BY id),
ex AS (SELECT exf.id, sizes.ns, exf.w FROM exf JOIN sizes USING (id)),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS ni,
         any_value(a.ns) AS na, any_value(b.ns) AS nb
  FROM ex a JOIN ex b ON a.w = b.w AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, floor(ni / (na + nb - ni) * 1e6)::BIGINT AS jaccard_u
FROM inter WHERE ni / (na + nb - ni) >= {JACCARD_T}
"""
)

_SIMHASH_CTE = (
    _TOK_CTE
    + f"""
, ex AS (SELECT id, unnest(t) AS w FROM tok),
h AS (SELECT id, {_H60.format(x='w')} AS h FROM ex),
votes AS (
  SELECT id, b.b AS bit,
         CASE WHEN (h >> b.b) % 2 = 1 THEN 1 ELSE -1 END AS v
  FROM h, range(0, 32) b(b)
),
sv AS (SELECT id, bit, sum(v) AS s FROM votes GROUP BY 1, 2),
fp AS (
  SELECT id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
  FROM sv GROUP BY id
)
"""
)

_ORACLE_SIMHASH = _SIMHASH_CTE + "\nSELECT id, simhash FROM fp"

_ORACLE_SIMHASH_PAIRS = (
    _SIMHASH_CTE
    + """
, segs AS (
  SELECT id, simhash, s.s AS seg, (simhash >> (s.s * 8)) % 256 AS val
  FROM fp, range(0, 4) s(s)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.simhash AS fa, b.simhash AS fb
  FROM segs a JOIN segs b ON a.seg = b.seg AND a.val = b.val AND a.id < b.id
)
SELECT id_a, id_b, bit_count(xor(fa, fb))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 3
"""
)

_ORACLE_EMB_NEAR_DUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {COS_T}
"""

_EN_STOPS = "['the','and','of','to','a','in','is','it']"
_ORACLE_TEXT_STATS = (
    _TOK_CTE
    + rf"""
SELECT id,
  len(t)::BIGINT AS n_tokens,
  len(list_distinct(t))::BIGINT AS n_distinct,
  len(regexp_extract_all(text, '[.,!?;:]'))::BIGINT AS n_punct,
  len(regexp_extract_all(lower(text), '[a-z]{{1,4}}|[0-9]|[^a-z0-9\s]'))::BIGINT AS bpe_tokens,
  floor((
    0.3 * least(len(t) / 64.0, 1.0)
    + 0.2 * (1.0 - least(len(regexp_extract_all(text, '[.,!?;:]'))
                         / greatest(len(text), 1) * 10.0, 1.0))
    + 0.3 * (len(list_distinct(t)) / greatest(len(t), 1))
    + 0.2 * least(len(list_filter(t, x -> list_contains({_EN_STOPS}, x)))
                  / greatest(len(t), 1) * 5.0, 1.0)
  ) * 1e6)::BIGINT AS quality_u
FROM tok
"""
)

_lang_rows = ", ".join(
    "('%s', [%s])" % (lang, ", ".join(f"'{w}'" for w in words))
    for lang, words in sorted(
        {
            "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
            "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein"),
            "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
            "fr": ("le", "la", "de", "et", "un", "est", "que", "en"),
            "zh": ("的", "是", "了", "在", "和", "有", "我", "不"),
        }.items()
    )
)
_ORACLE_LANGID = (
    _TOK_CTE
    + f"""
, langs(lang, stops) AS (VALUES {_lang_rows}),
counts AS (
  SELECT tok.id, langs.lang,
         len(list_filter(tok.t, x -> list_contains(langs.stops, x))) AS c
  FROM tok CROSS JOIN langs
),
ranked AS (
  SELECT id, lang,
         row_number() OVER (PARTITION BY id ORDER BY c DESC, lang ASC) AS rn
  FROM counts
)
SELECT id, lang AS lang_pred FROM ranked WHERE rn = 1
"""
)

_ORACLE_FINGERPRINT = (
    _TOK_CTE
    + """
, sh5 AS (
  SELECT id, text, CASE WHEN len(t) >= 5
    THEN list_distinct(list_transform(range(1, len(t) - 3),
                                      i -> array_to_string(t[i:i+4], ' ')))
    ELSE []::VARCHAR[] END AS s
  FROM tok
)
SELECT id, coalesce(list_min(list_transform(s, x -> md5(x))), md5(text)) AS fp
FROM sh5
"""
)

_ORACLE_ANN_COSINE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE {QUERY_FILTER}
), d AS (
  SELECT q.qid, b.vec_id AS id,
         -list_cosine_similarity(q.qv, b.embedding::DOUBLE[]) AS dist
  FROM q CROSS JOIN embeddings b
), r AS (
  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM d
)
SELECT qid, rn - 1 AS pos, id FROM r WHERE rn <= {ANN_K}
"""

# cosine of raw vectors == dot of normalized vectors, so the oracle
# replays the seeded-IVF probe scan with list_cosine_similarity
_ORACLE_ANN_COSINE_IVF = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE {QUERY_FILTER}
), c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < {NLIST}
), assign AS (
  SELECT vec_id AS id, list_no FROM (
    SELECT b.vec_id, c.cid AS list_no,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY -list_cosine_similarity(b.embedding::DOUBLE[], c.cv), c.cid
           ) AS rn
    FROM embeddings b CROSS JOIN c
  ) WHERE rn = 1
), probes AS (
  SELECT qid, list_no FROM (
    SELECT q.qid, c.cid AS list_no,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY -list_cosine_similarity(q.qv, c.cv), c.cid
           ) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {NPROBE}
), cand AS (
  SELECT q.qid, a.id,
         -list_cosine_similarity(q.qv, b.embedding::DOUBLE[]) AS dist
  FROM probes p
  JOIN assign a ON a.list_no = p.list_no
  JOIN q ON q.qid = p.qid
  JOIN embeddings b ON b.vec_id = a.id
), r AS (
  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM cand
)
SELECT qid, rn - 1 AS pos, id FROM r WHERE rn <= {ANN_K}
"""


# sign-bit packing for the hamming oracle: two 32-bit halves (bit 63
# would overflow signed BIGINT). Engine bytes-popcount == halves sum.
_SIGNBITS_CTE = """
WITH sb AS (
  SELECT vec_id AS id,
         list_sum(list_transform(range(1, 33),
           i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END))::BIGINT AS h1,
         list_sum(list_transform(range(33, 65),
           i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END))::BIGINT AS h2
  FROM embeddings
)
"""

_ORACLE_HAMMING = (
    _SIGNBITS_CTE
    + f"""
, q AS (SELECT id AS qid, h1 AS q1, h2 AS q2 FROM sb WHERE qid % 20 = 0),
d AS (
  SELECT q.qid, sb.id,
         bit_count(xor(q.q1, sb.h1)) + bit_count(xor(q.q2, sb.h2)) AS dist
  FROM q CROSS JOIN sb
), r AS (
  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM d
)
SELECT qid, rn - 1 AS pos, id FROM r WHERE rn <= {K}
"""
)

_ORACLE_IVF_WORST_CASE = (
    _Q_CTE
    + _CENT_CTE
    + f"""
, probes AS (
  SELECT qid, list_no FROM (
    SELECT q.qid, c.cid AS list_no,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, c.cv), c.cid
           ) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {NPROBE}
), cand AS (
  SELECT q.qid, a.id, list_distance(q.qv, b.embedding::DOUBLE[]) AS dist
  FROM probes p
  JOIN assign a ON a.list_no = p.list_no
  JOIN q ON q.qid = p.qid
  JOIN embeddings b ON b.vec_id = a.id
), ivf AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
    FROM cand
  ) WHERE rn <= {K}
), ex AS (
  SELECT qid, id FROM (
    SELECT q.qid, b.vec_id AS id,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, b.embedding::DOUBLE[]), b.vec_id
           ) AS rn
    FROM q CROSS JOIN embeddings b
  ) WHERE rn <= {K}
), hits AS (
  SELECT i.qid, count(e.id) AS cnt
  FROM ivf i LEFT JOIN ex e ON i.qid = e.qid AND i.id = e.id
  GROUP BY i.qid
)
SELECT {NPROBE}::BIGINT AS nprobe, floor(min(cnt) / {K}.0 * 1e6)::BIGINT AS minf_u
FROM hits
"""
)

_ORACLE_EVENTS_WINDOW = """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_epoch,
       event_type,
       count(*) AS n_events,
       floor(sum(value) * 1000)::BIGINT AS sum_value_m
FROM events
GROUP BY 1, 2
"""

_ORACLE_EVENTS_TOP_USERS = """
WITH totals AS (
  SELECT event_type, user_id, sum(value) AS total
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, user_id,
         row_number() OVER (
           PARTITION BY event_type ORDER BY total DESC, user_id ASC
         ) AS rk
  FROM totals
)
SELECT event_type, rk, user_id FROM ranked WHERE rk <= 3
"""


# --- corpus curation extensions: duplicate clustering + deterministic
# sampling (training-data-pipeline first-class ops; no reference
# analogue — the reference's dedup surface stops at pair emission) ----

SAMPLE_RATES_PPM = {"en": 500_000, "zh": 100_000, "es": 250_000}
MIX_TARGETS_PCT = {"en": 40, "fr": 30, "de": 30}
MIX_TOTAL = 100
QUALITY_TOP_N = 3


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs -> transitive closure -> (doc, cluster,
    size). Large-star/small-star connected components (SoCC'14)."""
    from auncel_spark.operators.components import dedup_clusters
    from auncel_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _toked_docs(spark, sf_dir),
        n_hashes=N_MINHASH,
        bands=4,
        id_col="id",
        tokens_col="_tok",
    )
    return dedup_clusters(pairs)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language rate sampling (LCG hash filter —
    codegen'd, shuffle-free, reproducible across engines)."""
    from auncel_spark.operators.sampling import stratified_sample

    return stratified_sample(
        load(spark, sf_dir, "documents"), SAMPLE_RATES_PPM
    ).select("doc_id", "lang")


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture sampling: en/fr/de at 40/30/30 of a 100-doc
    output, rates derived from stratum counts in exact BIGINT math."""
    from auncel_spark.operators.sampling import domain_mix

    return domain_mix(
        load(spark, sf_dir, "documents"), MIX_TARGETS_PCT, MIX_TOTAL
    ).select("doc_id", "lang")


def q_quality_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-N-docs-per-source selection by composite quality score —
    the 'keep the best of each crawl shard' curation step."""
    from pyspark.sql import Window as W

    from auncel_spark.functions.text import quality_score

    docs = load(spark, sf_dir, "documents")
    q = docs.select(
        "source",
        "doc_id",
        F.floor(quality_score(F.col("text")) * 1e6).cast("bigint").alias("quality_u"),
    )
    w = W.partitionBy("source").orderBy(F.col("quality_u").desc(), F.col("doc_id").asc())
    return (
        q.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= QUALITY_TOP_N)
        .select("source", F.col("rank").cast("bigint").alias("rank"), "doc_id", "quality_u")
    )


# oracle: same LCG bucket `((id % 2^32) * 1103515245 + 12345) % 2^32`,
# integer thresholds — bit-exact on both engines (sampling.py)
_LCG_SQL = "((doc_id % 4294967296) * 1103515245 + 12345) % 4294967296"


def _strat_case() -> str:
    from auncel_spark.operators.sampling import threshold_for_ppm

    whens = " ".join(
        f"WHEN '{s}' THEN {threshold_for_ppm(ppm)}"
        for s, ppm in sorted(SAMPLE_RATES_PPM.items())
    )
    return f"CASE lang {whens} ELSE 0 END"


_ORACLE_STRATIFIED = f"""
SELECT doc_id, lang FROM documents
WHERE {_LCG_SQL} < ({_strat_case()})
"""

_mix_case = "CASE lang " + " ".join(
    f"WHEN '{s}' THEN {p}" for s, p in sorted(MIX_TARGETS_PCT.items())
) + " END"
_mix_langs = ", ".join(f"'{s}'" for s in sorted(MIX_TARGETS_PCT))
_ORACLE_DOMAIN_MIX = f"""
WITH cnt AS (
  SELECT lang, count(*) AS c FROM documents
  WHERE lang IN ({_mix_langs}) GROUP BY lang
), thr AS (
  SELECT lang,
         least(4294967296, (4294967296 * ({_mix_case}) * {MIX_TOTAL}) // (100 * c)) AS t
  FROM cnt
)
SELECT d.doc_id, lang FROM documents d JOIN thr USING (lang)
WHERE {_LCG_SQL} < t
"""

# transitive closure of the MinHash-LSH pair graph: recursive CTE
# propagates every reachable label; min per node = component id —
# semantically identical to the large-star/small-star fixpoint
_ORACLE_DEDUP_CLUSTERS = (
    _SIG_CTE.replace("WITH tok", "WITH RECURSIVE tok", 1)
    + f"""
, bands AS (
  {_band_selects}
), edges AS (
  SELECT DISTINCT a.id AS u, b.id AS v
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id
), sym AS (
  SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges
), reach(node, lbl) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.node
), lab AS (
  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
), sz AS (
  SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id
)
SELECT lab.node AS doc_id, lab.cluster_id, sz.cluster_size
FROM lab JOIN sz USING (cluster_id)
"""
)

DECON_N = 4  # fixture docs are short; real pipelines use 13
DECON_EVAL_SOURCE = "src0"  # held-out "benchmark" slice of the corpus
PACK_BUDGET = 512  # tokens per packed training sequence


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram overlap (the 13-gram contamination rule):
    eval = docs from one source, train = the rest; emit overlapping
    pairs with exact shared-shingle counts."""
    from auncel_spark.operators.decontaminate import ngram_overlap

    docs = _toked_docs(spark, sf_dir)
    ev = docs.where(F.col("source") == DECON_EVAL_SOURCE)
    tr = docs.where(F.col("source") != DECON_EVAL_SOURCE)
    return ngram_overlap(tr, ev, n=DECON_N, id_col="id", tokens_col="_tok")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing into PACK_BUDGET-token
    contexts over a deterministic LCG shuffle order; distributed
    two-pass prefix sum (no single-task global window)."""
    from auncel_spark.operators.packing import pack_sequences

    return pack_sequences(load(spark, sf_dir, "documents"), PACK_BUDGET)


_decon_sh = (
    "list_distinct(list_transform(range(1, len(t) - {m}), "
    "i -> array_to_string(t[i:i+{s}], ' ')))"
).format(m=DECON_N - 2, s=DECON_N - 1)
_ORACLE_DECON = rf"""
WITH docs AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), trs AS (
  SELECT doc_id AS train_doc_id, unnest({_decon_sh}) AS w
  FROM docs WHERE source <> '{DECON_EVAL_SOURCE}' AND len(t) >= {DECON_N}
), evs AS (
  SELECT doc_id AS eval_doc_id, unnest({_decon_sh}) AS w
  FROM docs WHERE source = '{DECON_EVAL_SOURCE}' AND len(t) >= {DECON_N}
), keep AS (
  SELECT w FROM evs GROUP BY w HAVING count(*) < 1000
), evf AS (
  SELECT evs.* FROM evs JOIN keep USING (w)
)
SELECT train_doc_id, eval_doc_id, count(*) AS n_shared
FROM trs JOIN evf USING (w)
GROUP BY 1, 2
"""

# global order (bucket-major LCG) and exclusive running sum — the SQL
# single-window equivalent of packing.py's two-pass prefix sum
_ORACLE_PACK = rf"""
WITH d AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
         ((doc_id % 4294967296) * 1103515245 + 12345) % 4294967296 AS ord
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY ord % 1024, ord, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS off
  FROM d
)
SELECT doc_id, n_tokens, off // {PACK_BUDGET} AS seq_id,
       off % {PACK_BUDGET} AS offset_in_seq
FROM o
"""


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the events.props JSON column
    (JVM-side get_json_object — no UDF) and aggregate the extracted
    field per event type."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


_ORACLE_JSON_PROPS = """
WITH e AS (
  SELECT event_type, json_extract_string(props, '$.k')::BIGINT AS k
  FROM events
)
SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k, max(k) AS max_k
FROM e GROUP BY event_type
"""


SEM_K = 32  # semantic-dedup cluster count (seeded centroids)
VOCAB_TOP = 200  # vocab builder: top terms by document frequency


def q_semantic_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, keep-best: cluster document embeddings (seeded
    centroids), keep the highest-quality doc per cluster — the
    SemDeDup-style curation composition (cluster -> representative),
    joining the embeddings and documents tables on id."""
    from pyspark.sql import Window as W

    from auncel_spark.functions.text import quality_score

    cents = _seed_centroids(spark, sf_dir, SEM_K)
    assigned = assign_lists(_emb_base(spark, sf_dir), cents).select(
        F.col("id").alias("doc_id"), "list_no"
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.floor(quality_score(F.col("text")) * 1e6).cast("bigint").alias("quality_u"),
    )
    j = assigned.join(docs, "doc_id")
    w = W.partitionBy("list_no").orderBy(F.col("quality_u").desc(), F.col("doc_id").asc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("list_no").cast("bigint").alias("cluster"), "doc_id", "quality_u"
        )
    )


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocab builder: top-N terms by document frequency (the
    seed step of tokenizer/BPE training). One explode + partial-agg
    count + global top-N."""
    from pyspark.sql import Window as W


    # shared corpus tokenization (_toked_docs): same tokens() output,
    # one less split/lower/trim scan (doc_id itself is unused below)
    df_counts = (
        _toked_docs(spark, sf_dir)
        .select(F.explode(F.array_distinct("_tok")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w = W.orderBy(F.col("df").desc(), F.col("w").asc())
    return (
        df_counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= VOCAB_TOP)
        .select("rank", "w", "df")
    )


_ORACLE_SEMANTIC_KEEP_BEST = rf"""
WITH c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < {SEM_K}
), assign AS (
  SELECT doc_id, list_no FROM (
    SELECT b.vec_id AS doc_id, c.cid AS list_no,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_distance(b.embedding::DOUBLE[], c.cv), c.cid
           ) AS rn
    FROM embeddings b CROSS JOIN c
  ) WHERE rn = 1
), tokq AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t, text
  FROM documents
), q AS (
  SELECT doc_id,
  floor((
    0.3 * least(len(t) / 64.0, 1.0)
    + 0.2 * (1.0 - least(len(regexp_extract_all(text, '[.,!?;:]'))
                         / greatest(len(text), 1) * 10.0, 1.0))
    + 0.3 * (len(list_distinct(t)) / greatest(len(t), 1))
    + 0.2 * least(len(list_filter(t, x -> list_contains({_EN_STOPS}, x)))
                  / greatest(len(t), 1) * 5.0, 1.0)
  ) * 1e6)::BIGINT AS quality_u
  FROM tokq
), ranked AS (
  SELECT assign.list_no AS cluster, assign.doc_id, q.quality_u,
         row_number() OVER (
           PARTITION BY assign.list_no
           ORDER BY q.quality_u DESC, assign.doc_id ASC
         ) AS rn
  FROM assign JOIN q USING (doc_id)
)
SELECT cluster::BIGINT AS cluster, doc_id, quality_u FROM ranked WHERE rn = 1
"""

_ORACLE_VOCAB = rf"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), ex AS (
  SELECT doc_id, unnest(list_distinct(t)) AS w FROM tok
), dfc AS (
  SELECT w, count(*) AS df FROM ex GROUP BY w
), r AS (
  SELECT w, df, row_number() OVER (ORDER BY df DESC, w ASC) AS rank
  FROM dfc
)
SELECT rank, w, df FROM r WHERE rank <= {VOCAB_TOP}
"""


SESSION_GAP_US = 12 * 3600 * 1_000_000  # 12h inactivity gap


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with integer micro timestamps. The fixtures vary by SF:
    nano-precision parquet reads as LongType (nanosAsLong) — div 1000
    matches DuckDB's micro truncation; micro-precision reads as
    TIMESTAMP_NTZ — unix_micros after a value-preserving cast (UTC
    session) matches epoch_us."""
    ev = load(spark, sf_dir, "events")
    if dict(ev.dtypes)["ts"] == "bigint":
        ts_us = F.expr("ts div 1000")
    else:
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.select(
        "event_id", "user_id", "event_type", "value", ts_us.alias("ts_us")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (12h) -> per-session aggregates.
    Batch equivalent of Structured Streaming's session_window; one
    shuffle on user_id."""
    from auncel_spark.operators.temporal import session_stats, sessionize

    ev = _events_us(spark, sf_dir)
    return session_stats(sessionize(ev, SESSION_GAP_US))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click matched to the user's latest
    purchase at-or-before it (union-and-window plan; DuckDB's native
    ASOF JOIN is the oracle)."""
    from auncel_spark.operators.temporal import asof_join

    ev = _events_us(spark, sf_dir)
    clicks = ev.where("event_type = 'click'").select("event_id", "user_id", "ts_us")
    purchases = ev.where("event_type = 'purchase'").select(
        "event_id",
        "user_id",
        "ts_us",
        F.floor(F.col("value") * 1000).cast("bigint").alias("value_m"),
    )
    out = asof_join(clicks, purchases, "user_id", "ts_us", ["event_id", "value_m"])
    # no NULLs in hashed output (NaN breaks tuple equality): -1 sentinel
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        F.coalesce("r_event_id", F.lit(-1)).alias("r_event_id"),
        F.coalesce("r_value_m", F.lit(-1)).alias("r_value_m"),
    )


_ORACLE_SESSIONIZE = f"""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
), o AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS nw
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), s AS (
  SELECT user_id, ts_us,
         CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts_us
                            ROWS UNBOUNDED PRECEDING) - 1
              AS BIGINT) AS session_id
  FROM o
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts_us) AS start_ts, max(ts_us) AS end_ts,
       max(ts_us) - min(ts_us) AS duration
FROM s GROUP BY 1, 2
"""

_ORACLE_ASOF = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
  FROM events
), l AS (
  SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click'
), r AS (
  SELECT event_id AS r_event_id, user_id, ts_us,
         floor(value * 1000)::BIGINT AS r_value_m
  FROM e WHERE event_type = 'purchase'
)
SELECT l.event_id, l.user_id, l.ts_us,
       coalesce(r.r_event_id, -1) AS r_event_id,
       coalesce(r.r_value_m, -1) AS r_value_m
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
"""


_ORACLE_QUALITY_TOPK = rf"""
WITH tokq AS (
  SELECT doc_id, source, text,
         regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), q AS (
  SELECT source, doc_id,
  floor((
    0.3 * least(len(t) / 64.0, 1.0)
    + 0.2 * (1.0 - least(len(regexp_extract_all(text, '[.,!?;:]'))
                         / greatest(len(text), 1) * 10.0, 1.0))
    + 0.3 * (len(list_distinct(t)) / greatest(len(t), 1))
    + 0.2 * least(len(list_filter(t, x -> list_contains({_EN_STOPS}, x)))
                  / greatest(len(t), 1) * 5.0, 1.0)
  ) * 1e6)::BIGINT AS quality_u
  FROM tokq
), rq AS (
  SELECT source, doc_id, quality_u,
         row_number() OVER (
           PARTITION BY source ORDER BY quality_u DESC, doc_id ASC
         ) AS rank
  FROM q
)
SELECT source, rank, doc_id, quality_u FROM rq WHERE rank <= {QUALITY_TOP_N}
"""


REP_N = 2  # repetition metrics n-gram order
CHUNK_SIZE, CHUNK_STRIDE = 32, 24  # token chunker budget / overlap step
BLOOM_M, BLOOM_K = 1 << 16, 3  # bloom sketch bits / hash count


_ORACLE_REPETITION = rf"""
WITH tok AS (
  SELECT doc_id AS id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), ng AS (
  SELECT id, unnest(list_transform(range(1, len(t)),
                                   i -> array_to_string(t[i:i+{REP_N - 1}], ' '))) AS ng
  FROM tok WHERE len(t) >= {REP_N}
), per AS (
  SELECT id, ng, count(*) AS cnt FROM ng GROUP BY id, ng
), agg AS (
  SELECT id, sum(cnt) AS n_ngrams, count(*) AS n_distinct, max(cnt) AS topc,
         sum(cnt * length(ng)) AS chars,
         sum(CASE WHEN cnt > 1 THEN cnt * length(ng) ELSE 0 END) AS dchars
  FROM per GROUP BY id
)
SELECT d.doc_id AS id,
       coalesce(a.n_ngrams, 0)::BIGINT AS n_ngrams,
       coalesce(a.n_distinct, 0)::BIGINT AS n_distinct,
       coalesce(floor((a.n_ngrams - a.n_distinct) * 1e6 / a.n_ngrams), 0)::BIGINT
         AS dup_frac_u,
       coalesce(floor(a.topc * 1e6 / a.n_ngrams), 0)::BIGINT AS top_frac_u,
       coalesce(floor(a.dchars * 1e6 / a.chars), 0)::BIGINT AS dup_char_frac_u
FROM documents d LEFT JOIN agg a ON a.id = d.doc_id
"""


_ORACLE_CHUNKS = rf"""
WITH tok AS (
  SELECT doc_id AS id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), st AS (
  SELECT id, t, unnest(range(1, len(t) + 1, {CHUNK_STRIDE})) AS s FROM tok
)
SELECT id, ((s - 1) // {CHUNK_STRIDE})::BIGINT AS chunk_id,
       len(t[s:s+{CHUNK_SIZE - 1}])::BIGINT AS n_tokens,
       array_to_string(t[s:s+{CHUNK_SIZE - 1}], ' ') AS chunk_text
FROM st
"""


def q_bloom_seen_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup: even doc_ids are the already-
    ingested corpus (summarized to set bit positions), odd doc_ids the
    incoming batch; each incoming row is flagged possibly_seen iff all
    k bits hit. Deterministic md5-derived hash family ⇒ the oracle
    replays false positives exactly."""
    from auncel_spark.operators.bloom import bloom_build, bloom_probe

    docs = load(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    bits = bloom_build(seen, "text", BLOOM_M, BLOOM_K)
    return bloom_probe(new, bits, "text", "doc_id", BLOOM_M, BLOOM_K)


_ORACLE_BLOOM = f"""
WITH bits AS (
  SELECT DISTINCT
    ('0x' || substr(md5(concat(text, '#', r.s)), 1, 15))::BIGINT % {BLOOM_M} AS bit
  FROM documents, range(0, {BLOOM_K}) r(s) WHERE doc_id % 2 = 0
), probe AS (
  SELECT doc_id AS id,
    ('0x' || substr(md5(concat(text, '#', r.s)), 1, 15))::BIGINT % {BLOOM_M} AS bit
  FROM documents, range(0, {BLOOM_K}) r(s) WHERE doc_id % 2 = 1
)
SELECT p.id,
       (CASE WHEN count(b.bit) = {BLOOM_K} THEN 1 ELSE 0 END) AS possibly_seen
FROM probe p LEFT JOIN bits b ON b.bit = p.bit
GROUP BY p.id
"""


SOURCE_CAP = 15  # per-source anti-dominance cap (binds: fixtures have ~25 docs/source)


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep ≤ N docs per source by a
    deterministic pseudo-random rank (RefinedWeb-style anti-dominance
    sampling)."""
    from auncel_spark.operators.sampling import source_cap

    docs = load(spark, sf_dir, "documents")
    return source_cap(docs, SOURCE_CAP).select("doc_id", "source", "rk")


_ORACLE_SOURCE_CAP = f"""
WITH b AS (
  SELECT doc_id, source,
         ((doc_id % 4294967296) * 1103515245 + 12345) % 4294967296 AS bkt
  FROM documents
), r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY bkt, doc_id) AS rk
  FROM b
)
SELECT doc_id, source, rk FROM r WHERE rk <= {SOURCE_CAP}
"""


PIPE_DUP_FRAC, PIPE_TOP_FRAC = 0.05, 0.06  # repetition gate (p90-ish)
PIPE_CAP = 60  # per-source cap
PIPE_PPM = 500_000  # final hash-sample rate


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: exact dedup (keep-first) →
    repetition gate → per-source cap → deterministic 50% hash sample →
    (doc_id, source, n_tokens). Every stage is a deterministic
    operator from the curation family, so the full four-stage pipeline
    is SQL-replayable — the composition, not just each piece, is
    oracle-checked. Plan shape: two keyed shuffles total (md5 dedup
    window, source-cap window); the gate join is on doc_id and the
    sample is a codegen'd filter."""
    from auncel_spark.functions.text import token_count
    from auncel_spark.operators.dedup import dedup_keep_first
    from auncel_spark.operators.repetition import repetition_filter
    from auncel_spark.operators.sampling import hash_sample, source_cap

    docs = load(spark, sf_dir, "documents")
    # k1 feeds BOTH the repetition gate and the survivor join below —
    # checkpoint it (lazy, invocation-private; see q_minhash_dedup) so
    # the md5-dedup window runs once instead of once per consumer
    k1 = dedup_keep_first(docs).localCheckpoint(eager=False)
    gate = repetition_filter(k1, 2, PIPE_DUP_FRAC, PIPE_TOP_FRAC).where(
        F.col("keep") == 1
    )
    k2 = k1.join(gate.select(F.col("id").alias("doc_id")), "doc_id")
    k3 = source_cap(k2, PIPE_CAP).drop("rk")
    k4 = hash_sample(k3, PIPE_PPM)
    return k4.select(
        "doc_id", "source", token_count("text").cast("bigint").alias("n_tokens")
    )


_ORACLE_PIPELINE = rf"""
WITH k1 AS (
  SELECT doc_id, text, source FROM (
    SELECT doc_id, text, source,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
), tok AS (
  SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM k1
), ng AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)),
                                       i -> array_to_string(t[i:i+1], ' '))) AS ng
  FROM tok WHERE len(t) >= 2
), per AS (
  SELECT doc_id, ng, count(*) AS cnt FROM ng GROUP BY doc_id, ng
), agg AS (
  SELECT doc_id, sum(cnt) AS tot, count(*) AS dis, max(cnt) AS topc
  FROM per GROUP BY doc_id
), gate AS (
  SELECT tok.doc_id, tok.source, tok.t
  FROM tok LEFT JOIN agg ON agg.doc_id = tok.doc_id
  WHERE coalesce(floor((agg.tot - agg.dis) * 1e6 / agg.tot), 0)
          <= {int(PIPE_DUP_FRAC * 1e6)}
    AND coalesce(floor(agg.topc * 1e6 / agg.tot), 0)
          <= {int(PIPE_TOP_FRAC * 1e6)}
), capped AS (
  SELECT doc_id, source, t FROM (
    SELECT doc_id, source, t,
           row_number() OVER (
             PARTITION BY source
             ORDER BY ((doc_id % 4294967296) * 1103515245 + 12345) % 4294967296,
                      doc_id
           ) AS rk
    FROM gate) WHERE rk <= {PIPE_CAP}
)
SELECT doc_id, source, len(t)::BIGINT AS n_tokens
FROM capped
WHERE ((doc_id % 4294967296) * 1103515245 + 12345) % 4294967296
        < {4294967296 * PIPE_PPM // 1_000_000}
"""


def q_stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING entry, oracle-checked: watermarked native
    session_window aggregation over the events stream (12h gap), run
    as two availableNow micro-batch drains — the fixture, then a
    far-future sentinel that advances the watermark past every fixture
    session so append mode flushes them. Returns the emitted sessions;
    the oracle replays gap-merge semantics (boundary at gap ≥ 12h) in
    SQL over the same events. The sentinel's own session stays open in
    state and is never emitted."""
    import tempfile

    from auncel_spark.streaming.sessionize import stream_session_stats

    gap_s = 12 * 3600
    ev = _events_us(spark, sf_dir).select("user_id", "ts_us")
    base = tempfile.mkdtemp(prefix="auncel_stream_")
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    ev.write.parquet(src)
    q = stream_session_stats(
        spark, src, "user_id bigint, ts_us bigint", gap_s, out, ck, watermark="1 hour"
    )
    q.awaitTermination(300)
    ev.orderBy(F.desc("ts_us")).limit(1).select(
        "user_id", (F.col("ts_us") + F.lit(int(365 * 24 * 3600 * 1e6))).alias("ts_us")
    ).write.mode("append").parquet(src)
    q2 = stream_session_stats(
        spark, src, "user_id bigint, ts_us bigint", gap_s, out, ck, watermark="1 hour"
    )
    q2.awaitTermination(300)
    return spark.read.schema(
        "user_id bigint, start_ts bigint, end_ts bigint, n_events bigint"
    ).parquet(out)


_ORACLE_STREAM_SESSIONS = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events
), o AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w >= 43200000000
              THEN 1 ELSE 0 END AS nw
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), s AS (
  SELECT user_id, ts_us,
         sum(nw) OVER (PARTITION BY user_id ORDER BY ts_us
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, min(ts_us) AS start_ts, max(ts_us) AS end_ts,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def q_source_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus length profile with EXACT discrete
    percentiles (p50/p90 = smallest n_chars whose rank covers the
    quantile — the integer-portable rule, no interpolation): the
    curation dashboard query for spotting truncated or bloated
    sources. One shuffle on source; percentile via a per-source rank
    window, not a global sort."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents").select("source", "n_chars")
    w = W.partitionBy("source").orderBy("n_chars")
    ranked = docs.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy("source"))
    )
    pctl = lambda p: F.min(  # noqa: E731
        F.when(F.col("rk") * 100 >= F.col("n") * p, F.col("n_chars"))
    )
    return ranked.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("sum_chars"),
        pctl(50).alias("p50_chars"),
        pctl(90).alias("p90_chars"),
    )


_ORACLE_LENGTH_PROFILE = """
WITH r AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, max(n) AS n_docs, min(n_chars) AS min_chars,
       max(n_chars) AS max_chars, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(CASE WHEN rk * 100 >= n * 50 THEN n_chars END) AS p50_chars,
       min(CASE WHEN rk * 100 >= n * 90 THEN n_chars END) AS p90_chars
FROM r GROUP BY source
"""


def _ts_us_col(df: DataFrame, col: str):
    """Fixture timestamps as integer epoch micros (same engine-
    portable convention as ``_events_us``: nano-long parquet → div
    1000; TIMESTAMP_NTZ → unix_micros after a UTC-safe cast)."""
    if dict(df.dtypes)[col] == "bigint":
        return F.expr(f"{col} div 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


Q3_SEGMENT = "BUILDING"
Q3_CUTOFF_US = 883_612_800_000_000  # 1998-01-01 UTC


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (§2.4 relational depth): segment-filtered
    customers ⋈ pre-cutoff orders ⋈ post-cutoff lineitems, top-10
    open-order revenue. Integer-cent revenue (order-independent sums),
    broadcast customer filter; the top-10 is a partial-agg + single
    small ordered limit, never a global row sort of lineitem."""
    customer = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = load(spark, sf_dir, "orders")
    orders = orders.where(_ts_us_col(orders, "o_orderdate") < Q3_CUTOFF_US).select(
        "o_orderkey", "o_custkey", _ts_us_col(orders, "o_orderdate").alias("odate_us")
    )
    li = load(spark, sf_dir, "lineitem")
    li = li.where(_ts_us_col(li, "l_shipdate") > Q3_CUTOFF_US)
    ep_c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    disc_pct = F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("o_orderkey", "odate_us")
        .agg(F.sum(ep_c * (100 - disc_pct)).alias("revenue_u"))
        .orderBy(F.desc("revenue_u"), F.asc("o_orderkey"))
        .limit(10)
    )


_ORACLE_Q3 = f"""
WITH c AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = '{Q3_SEGMENT}'
), o AS (
  SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS odate_us
  FROM orders WHERE epoch_us(o_orderdate) < {Q3_CUTOFF_US}
), l AS (
  SELECT l_orderkey,
         floor(l_extendedprice * 100 + 0.5)::BIGINT
           * (100 - floor(l_discount * 100 + 0.5)::BIGINT) AS rev_u
  FROM lineitem WHERE epoch_us(l_shipdate) > {Q3_CUTOFF_US}
)
SELECT o.o_orderkey, o.odate_us, CAST(sum(l.rev_u) AS BIGINT) AS revenue_u
FROM l JOIN o ON l.l_orderkey = o.o_orderkey
JOIN c ON o.o_custkey = c.c_custkey
GROUP BY o.o_orderkey, o.odate_us
ORDER BY revenue_u DESC, o.o_orderkey ASC LIMIT 10
"""


BPE_TOP = 50  # BPE seed: top adjacent char pairs


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training seed: corpus-wide adjacent character-pair
    frequencies (the statistic the first BPE merge maximizes), top-N
    with (count desc, pair asc) tie-break. One explode over words →
    per-row pair arrays → partial-agg count — corpus-linear, no skew
    beyond character frequencies."""
    from pyspark.sql import Window as W


    # shared corpus tokenization (_toked_docs): same tokens() output
    w = _toked_docs(spark, sf_dir).select(F.explode("_tok").alias("w")).where(
        F.length("w") >= 2
    )
    # substring with a column start position needs the SQL form
    pairs = w.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("p")
    )
    counted = pairs.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    rk = W.orderBy(F.desc("cnt"), F.asc("p"))
    return (
        counted.withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .where(F.col("rank") <= BPE_TOP)
        .select("rank", "p", "cnt")
    )


_ORACLE_BPE = rf"""
WITH w AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
), p AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> w[i:i+1])) AS p
  FROM w WHERE length(w) >= 2
), c AS (
  SELECT p, count(*) AS cnt FROM p GROUP BY p
)
SELECT row_number() OVER (ORDER BY cnt DESC, p ASC) AS rank, p, cnt
FROM c ORDER BY cnt DESC, p ASC LIMIT {BPE_TOP}
"""


N_BPE_MERGES = 8  # merge iterations replayed by the unrolled oracle


def _bpe_merges_cached(spark: SparkSession, sf_dir: str):
    """Memoized BPE merge list per sf_dir (like _laet_model): bpe_merges
    and bpe_vocab train on the identical corpus, so the ~4 s iterative
    merge loop runs once per scale instead of once per entry."""
    from auncel_spark.operators.bpe import bpe_train, word_freq

    def _build():
        return bpe_train(word_freq(load(spark, sf_dir, "documents")), N_BPE_MERGES)

    return _cached(sf_dir, "bpe_merges", _build)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer TRAINING (operators/bpe.py): the iterative BPE merge
    loop — per round, one pair-count shuffle over the word-TYPE table
    and one narrow replace; the driver holds only the round's argmax,
    like Lloyd's holds centroids. Deterministic (cnt desc, lhs, rhs)
    tie-break; the oracle unrolls the same K rounds as a CTE chain
    using the shared double-separator greedy-replace encoding."""
    merges = _bpe_merges_cached(spark, sf_dir)
    rows = [(i + 1, a, b, cnt) for i, (a, b, cnt) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_rank bigint, lhs string, rhs string, cnt bigint"
    )


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE (operators/bpe.bpe_segment): apply the learned
    K-merge list to the whole corpus and report the resulting token
    vocabulary with corpus frequencies — the statistic that tells you
    what a tokenizer trained on this corpus actually produces. The
    segmentation runs as chained narrow replaces (no shuffle until the
    final count); the oracle replays the merges on the word-TYPE table
    and weights symbols by word frequency (identical by construction:
    segmentation is per-word)."""
    from auncel_spark.operators.bpe import bpe_segment

    docs = load(spark, sf_dir, "documents")
    merges = _bpe_merges_cached(spark, sf_dir)
    seg = bpe_segment(docs, merges)
    return seg.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))


def _oracle_bpe_vocab(k: int = N_BPE_MERGES) -> str:
    sep2 = "chr(30)||chr(30)"
    chain = _oracle_bpe_merges(k)
    # reuse the merge chain's CTEs; replace its final SELECT with the
    # weighted symbol histogram of the final segmentation w{k}
    chain = chain[: chain.rindex("\nSELECT * FROM (")]
    return (
        chain
        + f"""
SELECT sym AS token, CAST(sum(freq) AS BIGINT) AS cnt FROM (
  SELECT unnest(list_filter(string_split(s, {sep2}), x -> x <> '')) AS sym,
         freq
  FROM w{k}
) GROUP BY sym
"""
    )


def _oracle_bpe_merges(k: int = N_BPE_MERGES) -> str:
    """Unrolled K-step BPE merge replay (see operators/bpe.py for the
    double-separator greedy-replace encoding both engines share)."""
    sep, sep2 = "chr(30)", "chr(30)||chr(30)"
    parts = [
        rf"""WITH wfreq AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
    FROM documents
  ) GROUP BY w
), w0 AS (
  SELECT {sep2} || regexp_replace(w, '(.)', '\1' || {sep2}, 'g') AS s, freq
  FROM wfreq
)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""",
p{i} AS (
  SELECT pr[1] AS a, pr[2] AS b, sum(freq) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(syms)),
                                 j -> [syms[j], syms[j+1]])) AS pr, freq
    FROM (SELECT list_filter(string_split(s, {sep2}), x -> x <> '') AS syms,
                 freq FROM w{i - 1})
  ) GROUP BY 1, 2
),
t{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
w{i} AS (
  SELECT replace(s, {sep}||a||{sep2}||b||{sep}, {sep}||a||b||{sep}) AS s, freq
  FROM w{i - 1}, t{i}
)"""
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,"
        f" CAST(cnt AS BIGINT) AS cnt FROM t{i}"
        for i in range(1, k + 1)
    )
    parts.append(f"\nSELECT * FROM ({sel}) ORDER BY merge_rank")
    return "".join(parts)


# ASCII-ONLY ASSUMPTION (enforced, not silent): the engine encodes the
# first 64 UTF-8 BYTES of each doc, while this SQL sums ascii() over
# the first 64 CHARACTERS — identical only when byte == code point.
# DuckDB (this build) has no per-octet BLOB access to replay UTF-8
# byte-exactly, so instead any non-ASCII row is poisoned to px_sum=-1
# (the engine returns the real pixel sum → a loud, attributable gate
# red instead of a silently-wrong oracle). tests/test_multimodal.py
# asserts the documents fixture is pure ASCII, so a corpus change
# fails locally first.
_ORACLE_PNG_DECODE = """
SELECT doc_id AS id,
       CAST(1 AS BOOLEAN) AS ok,
       16 AS width, 4 AS height, 1 AS n_channels,
       CASE WHEN octet_length(encode(text)) <> length(text) THEN CAST(-1 AS BIGINT)
            ELSE CAST(COALESCE(list_sum(list_transform(
                     range(1, least(length(text), 64) + 1),
                     i -> ascii(text[i]))), 0)
                 + 32 * (64 - least(length(text), 64)) AS BIGINT)
       END AS px_sum
FROM documents
"""


def q_stream_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL streaming entry, oracle-checked: per-event session-id
    tagging via applyInPandasWithState, run as TWO time-split
    availableNow drains on one checkpoint (early half, then late half)
    so the per-user (last_ts, session counter) state demonstrably
    carries the recurrence across the micro-batch boundary. The oracle
    is the batch lag/running-sum sessionization in SQL."""
    import tempfile

    from auncel_spark.streaming.sessionize import stream_sessionize_events

    ev = _events_us(spark, sf_dir).select("user_id", "ts_us")
    med = ev.approxQuantile("ts_us", [0.5], 0.0)[0]
    base = tempfile.mkdtemp(prefix="auncel_sess_")
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    ev.where(F.col("ts_us") <= med).write.parquet(src)
    q = stream_sessionize_events(
        spark, src, "user_id bigint, ts_us bigint", SESSION_GAP_US, out, ck
    )
    q.awaitTermination(300)
    ev.where(F.col("ts_us") > med).write.mode("append").parquet(src)
    q2 = stream_sessionize_events(
        spark, src, "user_id bigint, ts_us bigint", SESSION_GAP_US, out, ck
    )
    q2.awaitTermination(300)
    return spark.read.schema("user_id bigint, ts_us bigint, session_id bigint").parquet(
        out
    )


_ORACLE_STREAM_SESSIONIZE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events
), o AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS nw
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
)
SELECT user_id, ts_us,
       CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) - 1
            AS BIGINT) AS session_id
FROM o
"""


# --- named oracle constants for the consolidated entries (these were
# inline strings in the pre-r05 ORACLES dict; unchanged SQL) ---

_ORACLE_BASE_SHIFT = (
    _Q_CTE
    + f"""
, d AS (
  SELECT q.qid, b.vec_id AS id,
         list_distance(q.qv, b.embedding::DOUBLE[]) ** 2 - b.label / 10.0 AS dist
  FROM q CROSS JOIN embeddings b
), r AS (
  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM d
)
SELECT qid, rn - 1 AS pos, id FROM r WHERE rn <= {K}
"""
)

_ORACLE_KNN_1D = """
WITH q(qid, val) AS (VALUES (0, 1000.0), (1, 50000.0), (2, 150000.0)),
d AS (
  SELECT q.qid, o.o_orderkey AS id, abs(q.val - o.o_totalprice) AS dist
  FROM q CROSS JOIN orders o
), r AS (
  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
  FROM d
)
SELECT qid::BIGINT AS qid, rn - 1 AS pos, id FROM r WHERE rn <= 5
"""

_ORACLE_MATRIX_STATS = """
SELECT (r.i - 1)::BIGINT AS dim,
       count(*) AS n,
       floor(min(embedding[r.i]) * 1e6)::BIGINT AS min_u,
       floor(max(embedding[r.i]) * 1e6)::BIGINT AS max_u,
       floor(avg(embedding[r.i]::DOUBLE) * 1e6)::BIGINT AS mean_u,
       sum(CASE WHEN embedding[r.i] = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero
FROM embeddings, range(1, 65) r(i)
GROUP BY r.i
"""

_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       sum(floor(l_quantity * 100 + 0.5)::BIGINT)::BIGINT AS sum_qty_c,
       sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
           * (100 - floor(l_discount * 100 + 0.5)::BIGINT))::BIGINT AS revenue_u,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY 1, 2
"""

_ORACLE_REVENUE_BY_REGION = """
SELECT r.r_name,
       count(*) AS n_items,
       sum(floor(l.l_extendedprice * 100 + 0.5)::BIGINT
           * (100 - floor(l.l_discount * 100 + 0.5)::BIGINT))::BIGINT AS revenue_u,
       count(DISTINCT c.c_custkey) AS n_customers
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""

_ORACLE_TOP_PARTS = """
WITH rev AS (
  SELECT l_partkey,
         sum(floor(l_extendedprice * 100 + 0.5)::BIGINT
             * (100 - floor(l_discount * 100 + 0.5)::BIGINT)) AS rev
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT p.p_brand, p.p_partkey,
         row_number() OVER (
           PARTITION BY p.p_brand ORDER BY rev.rev DESC, p.p_partkey ASC
         ) AS rk
  FROM rev JOIN part p ON rev.l_partkey = p.p_partkey
)
SELECT p_brand, rk, p_partkey AS partkey FROM ranked WHERE rk <= 3
"""

_ORACLE_REMOVE_IDS = (
    _Q_CTE
    + _CENT_CTE
    + """
SELECT a.id, a.list_no::BIGINT AS list_no
FROM assign a
WHERE a.id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 0)
"""
)

_ORACLE_RECONSTRUCT = """
SELECT e.vec_id AS id, r.i::BIGINT AS dim,
       floor(e.embedding[r.i]::DOUBLE * 1e6)::BIGINT AS val_u
FROM embeddings e, range(1, 65) r(i)
WHERE e.vec_id % 50 = 0
"""

# byte histogram replayed via ascii(); count reconstruction makes the
# float32 feature column integer-hashable (see q_multimodal_features)
_ORACLE_MULTIMODAL = """
WITH bl AS (
  SELECT doc_id AS id,
         unnest(list_transform(range(1, length(text) + 1),
                               i -> ascii(text[i]) % 16)) AS bkt
  FROM documents
), cnts AS (
  SELECT id, bkt, count(*) AS cnt FROM bl GROUP BY id, bkt
), grid AS (
  SELECT d.doc_id AS id, r.i AS dim FROM documents d, range(0, 16) r(i)
)
SELECT g.id, g.dim::BIGINT AS dim, COALESCE(c.cnt, 0)::BIGINT AS cnt
FROM grid g LEFT JOIN cnts c ON c.id = g.id AND c.bkt = g.dim
"""

_ORACLE_CURATION_REPORT = (
    _TOK_CTE
    + rf"""
, sh5 AS (
  SELECT id, lang, text, t, CASE WHEN len(t) >= 5
    THEN list_distinct(list_transform(range(1, len(t) - 3),
                                      i -> array_to_string(t[i:i+4], ' ')))
    ELSE []::VARCHAR[] END AS s
  FROM (SELECT tok.id, d.lang, tok.text, tok.t
        FROM tok JOIN documents d ON d.doc_id = tok.id)
), per_doc AS (
  SELECT lang,
         len(t)::BIGINT AS n_tok,
         floor((
           0.3 * least(len(t) / 64.0, 1.0)
           + 0.2 * (1.0 - least(len(regexp_extract_all(text, '[.,!?;:]'))
                                / greatest(len(text), 1) * 10.0, 1.0))
           + 0.3 * (len(list_distinct(t)) / greatest(len(t), 1))
           + 0.2 * least(len(list_filter(t, x -> list_contains({_EN_STOPS}, x)))
                         / greatest(len(t), 1) * 5.0, 1.0)
         ) * 1e6) >= 500000 AS keep,
         coalesce(list_min(list_transform(s, x -> md5(x))), md5(text)) AS fp
  FROM sh5
)
SELECT lang, count(*) AS n_docs,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       sum(n_tok)::BIGINT AS total_tokens,
       count(DISTINCT fp) AS n_fingerprints
FROM per_doc GROUP BY lang
"""
)


# =====================================================================
# Consolidated catalog entries (VERDICT r04 Next #3): the driver's
# correctness gate verifies the FIRST 50 entries of QUERIES, and the
# pre-r05 catalog had 72 — so ~22 entries per round were always
# self-certified. Entries with identical output schemas are merged
# into one driver row via a discriminator column ("tag-union"); per-doc
# families are merged via an id join. Every underlying operator keeps
# its oracle: the merged SQL wraps the ORIGINAL oracle SELECTs as
# tagged subqueries, so no capability loses hash-exact verification —
# each now simply shares a driver row with its schema twins.
# =====================================================================


def _tag_union(colname: str, parts) -> DataFrame:
    """UNION ALL of schema-aligned DataFrames, each tagged with a
    discriminator literal so rows from different variants can never
    hash-collide."""
    dfs = [df.select(F.lit(tag).alias(colname), "*") for tag, df in parts]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _parts_oracle(colname: str, *parts) -> str:
    """SQL twin of _tag_union: each part is (tag, projection, sql);
    the original oracle SELECT runs unchanged inside a subquery."""
    return "\nUNION ALL\n".join(
        f"SELECT '{tag}' AS {colname}, {proj} FROM ({sql.strip()}) _p{i}"
        for i, (tag, proj, sql) in enumerate(parts)
    )


def q_exact_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2 merged: exact kNN under L2 and IP metrics.

    Single base scan since r10 (knn_exact_multi): the GEMM dot block is
    shared and both metrics' distances derive from it — r09's tag-union
    ran two full corpus scans for one workload. Per-metric rows are
    bit-identical to the per-metric calls (same arithmetic)."""
    from auncel_spark.operators.knn import knn_exact_multi

    res = knn_exact_multi(
        _emb_queries(spark, sf_dir),
        _emb_base(spark, sf_dir),
        K,
        [Metric.L2, Metric.IP],
    )
    return res.select(
        "metric", "qid", F.col("pos").cast("bigint").alias("pos"), "id"
    )


_ORACLE_EXACT_KNN = _parts_oracle(
    "metric",
    ("l2", "qid, pos, id", _ORACLE_KNN_L2),
    ("ip", "qid, pos, id", _ORACLE_KNN_IP),
)


def q_sharded_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16+O20 merged: id-sharded search+merge and dimension-split
    search — both provably equal to the global exact top-k."""
    return _tag_union("variant", [
        ("id_shard", q_shard_merge_topk(spark, sf_dir)),
        ("dim_split", q_split_vectors_knn(spark, sf_dir)),
    ])


_ORACLE_SHARDED_KNN = _parts_oracle(
    "variant",
    ("id_shard", "qid, pos, id", _ORACLE_KNN_L2),
    ("dim_split", "qid, pos, id", _ORACLE_KNN_L2),
)


def q_flat_variants_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 merged: BaseShift (shifted-distance) and Flat1D scalar kNN."""
    return _tag_union("variant", [
        ("base_shift", q_knn_base_shift(spark, sf_dir)),
        ("one_d", q_knn_1d(spark, sf_dir)),
    ])


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN merged: brute-force cosine top-k baseline and the IVF scale
    path (normalize + IP probes) — identical output contract."""
    return _tag_union("variant", [
        ("brute", q_ann_cosine_topk(spark, sf_dir)),
        ("ivf", q_ann_cosine_ivf(spark, sf_dir)),
    ])


def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6/O7+B8 merged: IVF-Flat probe scan and IVF-SQ4 (packed 4-bit
    scalar-quantized lists) through the same search contract."""
    return _tag_union("variant", [
        ("flat", q_ivf_search(spark, sf_dir)),
        ("sq4", q_ivfsq4_knn(spark, sf_dir)),
    ])


def q_embedding_near_dup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup merged: brute-force all-pairs cosine and the
    sign-LSH bucketed scale path (planted-clone protocol)."""
    return _tag_union("variant", [
        ("brute", q_embedding_near_dup(spark, sf_dir)),
        ("lsh", q_embedding_near_dup_lsh(spark, sf_dir)),
    ])


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis merged: per-doc stats + quality, language-ID, and
    min-shingle fingerprint in one wide frame.

    Single-pass since r10: all three parts are row-wise projections of
    the same table, so ONE scan with a materialized token array feeds
    every feature — r09's shape was 3 scans + 2 id joins, and each part
    re-ran the lower/trim/split tokenizer (langid alone splits once per
    language). Expression trees per output column are unchanged, so
    values are bit-identical to the joined form (guide §2.4: remove
    shuffles outright; §1.2: don't compute things twice)."""
    from auncel_spark.functions.text import (
        bpe_token_estimate,
        langid,
        quality_score,
    )
    from auncel_spark.operators.dedup import _shingles_of_tokens, tokens

    docs = load(spark, sf_dir, "documents")
    toked = docs.select(
        F.col("doc_id").alias("id"),
        F.col("text").alias("_text"),
        tokens("text").alias("_tok"),
    )
    t, tok = F.col("_text"), F.col("_tok")
    fp_sh = _shingles_of_tokens(tok, 5)
    return toked.select(
        "id",
        F.size(tok).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("bigint").alias("n_distinct"),
        F.size(F.regexp_extract_all(t, F.lit(r"[.,!?;:]"), 0))
        .cast("bigint")
        .alias("n_punct"),
        bpe_token_estimate(t).cast("bigint").alias("bpe_tokens"),
        F.floor(quality_score(t, tok) * 1e6).cast("bigint").alias("quality_u"),
        langid(t, tok).alias("lang_pred"),
        F.coalesce(
            F.array_min(F.transform(fp_sh, lambda s: F.md5(s))), F.md5(t)
        ).alias("fp"),
    )


def q_doc_chunks_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking + repetition merged (id join): stride chunks annotated
    with the doc-level Gopher repetition metrics.

    r10: both branches (and the repetition operator's internal all-ids
    frame) read the SHARED tokenized corpus table (_toked_docs — the
    same materialize-once tokenization ngram_jaccard and
    decontamination already use), so the scan + lower/trim/split
    pipeline runs once per corpus refresh instead of three times per
    query. Expressions over the token array are unchanged —
    bit-identical output."""
    from auncel_spark.operators.repetition import (
        ngram_repetition_stats,
        word_chunks,
    )

    toked = _toked_docs(spark, sf_dir)
    chunks = word_chunks(
        toked, CHUNK_SIZE, CHUNK_STRIDE, id_col="id", tokens_col="_tok"
    )
    rep = ngram_repetition_stats(toked, REP_N, id_col="id", tokens_col="_tok")
    return chunks.join(rep, "id")


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash merged: per-doc signatures (melted to rows) and the
    banded LSH candidate pairs in one tagged frame. The signature frame
    is checkpointed and SHARED by both parts — the corpus scan + shingle +
    md5 pipeline (the heavy stage at any scale) runs once, not once per
    part (guide §2.4: two operations keyed the same way share one
    subtree; r09's plan evaluated it twice). localCheckpoint(lazy), not
    persist(): a persisted plan is served by Spark's plan-matching
    CacheManager to the NEXT invocation too, which would turn warm
    bench passes into cache reads — the checkpointed RDD is private to
    this invocation, so every run still computes from parquet."""
    from auncel_spark.operators.dedup import minhash_lsh_pairs

    sig = q_minhash_signatures(spark, sf_dir).localCheckpoint(eager=False)
    melted = sig.select(
        "id",
        F.posexplode(F.array(*[F.col(f"mh{i}") for i in range(N_MINHASH)])).alias(
            "b", "v"
        ),
    ).select(
        F.lit("sig").alias("part"),
        F.col("id").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        "v",
    )
    pairs = minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), n_hashes=N_MINHASH, bands=4, sig=sig
    ).select(
        F.lit("pair").alias("part"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.lit(0).cast("bigint").alias("v"),
    )
    return melted.unionByName(pairs)


_MH_LIST = "[" + ", ".join(f"mh{i}" for i in range(N_MINHASH)) + "]"
_ORACLE_MINHASH_DEDUP = _parts_oracle(
    "part",
    (
        "sig",
        f"id AS a, j AS b, {_MH_LIST}[j + 1] AS v",
        _ORACLE_MINHASH_SIG + f", range(0, {N_MINHASH}) j(j)",
    ),
    ("pair", "id_a AS a, id_b AS b, 0::BIGINT AS v", _ORACLE_MINHASH_LSH),
)


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash merged: per-doc fingerprints and pigeonhole-segment
    near-pairs (Hamming <= 3) in one tagged frame. The fingerprint
    frame is checkpointed (lazy, invocation-private — see
    q_minhash_dedup on why not persist()) and SHARED by both parts —
    the exploded token-vote aggregation (the heavy stage at any scale)
    runs once, not once per part (guide §2.4)."""
    from auncel_spark.operators.dedup import simhash_near_pairs

    base_fp = q_simhash(spark, sf_dir).localCheckpoint(eager=False)
    fp = base_fp.select(
        F.lit("fp").alias("part"),
        F.col("id").alias("a"),
        F.lit(0).cast("bigint").alias("b"),
        F.col("simhash").alias("v"),
    )
    pairs = simhash_near_pairs(
        load(spark, sf_dir, "documents"), max_hamming=3, fp=base_fp
    ).select(
        F.lit("pair").alias("part"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.col("hamming").alias("v"),
    )
    return fp.unionByName(pairs)


_ORACLE_SIMHASH_DEDUP = _parts_oracle(
    "part",
    ("fp", "id AS a, 0::BIGINT AS b, simhash AS v", _ORACLE_SIMHASH),
    ("pair", "id_a AS a, id_b AS b, hamming AS v", _ORACLE_SIMHASH_PAIRS),
)


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1+B4 merged: nearest-centroid assignment and the Lloyd's
    half-step per-cluster/dim centroid update."""
    assign = q_kmeans_assign(spark, sf_dir).select(
        F.lit("assign").alias("part"),
        F.col("id").alias("a"),
        F.col("list_no").alias("b"),
        F.lit(0.0).cast("double").alias("val"),
    )
    update = q_kmeans_update(spark, sf_dir).select(
        F.lit("update").alias("part"),
        F.col("list_no").alias("a"),
        F.col("dim").alias("b"),
        F.col("val"),
    )
    return assign.unionByName(update)


_ORACLE_KMEANS_STEP = _parts_oracle(
    "part",
    ("assign", "id AS a, list_no AS b, 0.0 AS val", _ORACLE_ASSIGN),
    ("update", "list_no AS a, dim AS b, val", _ORACLE_KMEANS_UPDATE),
)


def q_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18+O19 merged: IDSelector deletion survivors and
    reconstruct_n decode rows."""
    kept = q_remove_ids(spark, sf_dir).select(
        F.lit("kept").alias("part"),
        F.col("id").alias("a"),
        F.col("list_no").alias("b"),
        F.lit(0).cast("bigint").alias("v"),
    )
    rec = q_reconstruct(spark, sf_dir).select(
        F.lit("reconstruct").alias("part"),
        F.col("id").alias("a"),
        F.col("dim").alias("b"),
        F.col("val_u").alias("v"),
    )
    return kept.unionByName(rec)


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O31 merged: per-dimension MatrixStats profile and the IVF
    posting-list size histogram."""
    mat = q_matrix_stats(spark, sf_dir).select(
        F.lit("matrix").alias("part"),
        F.col("dim").alias("k"),
        F.col("n").alias("a"),
        F.col("min_u").alias("b"),
        F.col("max_u").alias("c"),
        F.col("mean_u").alias("d"),
        F.col("n_zero").alias("e"),
    )
    z = F.lit(0).cast("bigint")
    ls = q_ivf_list_sizes(spark, sf_dir).select(
        F.lit("list_sizes").alias("part"),
        F.col("list_no").alias("k"),
        F.col("cnt").alias("a"),
        z.alias("b"), z.alias("c"), z.alias("d"), z.alias("e"),
    )
    return mat.unionByName(ls)


def q_events_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events merged: tumbling-window stats (the streaming plan's
    batch expression) and the per-type top-3 users window query."""
    win = q_events_window_stats(spark, sf_dir).select(
        F.lit("window").alias("part"),
        "event_type",
        F.col("window_epoch").alias("a"),
        F.col("n_events").alias("b"),
        F.col("sum_value_m").alias("c"),
    )
    top = q_events_top_users(spark, sf_dir).select(
        F.lit("top_users").alias("part"),
        "event_type",
        F.col("rk").alias("a"),
        F.col("user_id").alias("b"),
        F.lit(0).cast("bigint").alias("c"),
    )
    return win.unionByName(top)


def q_relational_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational core merged: TPC-H Q1-shaped pricing summary, the
    Q5-shaped region revenue join chain, and the brand top-parts
    window query, melted to one tagged frame."""
    z = F.lit(0).cast("bigint")
    pricing = q_pricing_summary(spark, sf_dir).select(
        F.lit("pricing").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("n_rows").alias("a"),
        F.col("sum_qty_c").alias("b"),
        F.col("revenue_u").alias("c"),
        F.col("n_orders").alias("d"),
    )
    region = q_revenue_by_region(spark, sf_dir).select(
        F.lit("region_revenue").alias("part"),
        F.col("r_name").alias("k1"),
        F.lit("").alias("k2"),
        F.col("n_items").alias("a"),
        F.col("revenue_u").alias("b"),
        F.col("n_customers").alias("c"),
        z.alias("d"),
    )
    brand = q_top_parts_by_brand(spark, sf_dir).select(
        F.lit("brand_top").alias("part"),
        F.col("p_brand").alias("k1"),
        F.lit("").alias("k2"),
        F.col("rk").alias("a"),
        F.col("partkey").alias("b"),
        z.alias("c"),
        z.alias("d"),
    )
    return pricing.unionByName(region).unionByName(brand)


def q_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17+O29 merged: per-query IP-vs-L2 intersection hits (exact
    integer, recall*K) and the worst-case intersection criterion of
    the fixed-nprobe config.

    r10 plan: ONE multi-metric exact scan provides both the IP approx
    result and the L2 ground truth (r09 ran the L2 exact scan twice
    and the IP scan once — three corpus scans for one workload); it
    overlaps with the IVF probe scan from a driver thread pool (guide
    §2.6), and the intersection criteria are evaluated in numpy over
    the collected nq·k frames. The per-query value round(round(n_hit/K,
    6)·K) equals n_hit exactly for every n_hit in 0..K (verified over
    the whole domain), so rows are bit-identical to the relational
    chain."""
    from concurrent.futures import ThreadPoolExecutor

    from auncel_spark.operators.knn import knn_exact_multi

    q = _emb_queries(spark, sf_dir)
    idx = _seed_ivf(spark, sf_dir)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_both = pool.submit(
            lambda: knn_exact_multi(
                q, _emb_base(spark, sf_dir), K, [Metric.L2, Metric.IP]
            )
            .select("metric", "qid", "id")
            .toPandas()
        )
        f_res = pool.submit(
            lambda: idx.search(q, K, nprobe=NPROBE).select("qid", "id").toPandas()
        )
        both, res = f_both.result(), f_res.result()

    gt_ids = both[both["metric"] == "l2"].groupby("qid")["id"].agg(set)
    ap = both[both["metric"] == "ip"]
    # per-query hits = |approx ids ∩ gt ids| (intersection_recall's
    # (qid, id) equi-join; ids are unique per query)
    per_hit = {
        int(qid): len(set(ids) & gt_ids[qid])
        for qid, ids in ap.groupby("qid")["id"]
    }
    per_rows = [
        ("per_query", int(qid), int(hit)) for qid, hit in sorted(per_hit.items())
    ]
    # worst-case criterion of the fixed-nprobe config: min over queries
    # (zero-hit queries included via the all_q left join → coalesce 0)
    res_hit = {
        int(qid): len(set(ids) & gt_ids[qid])
        for qid, ids in res.groupby("qid")["id"]
    }
    minf = min(res_hit.values()) / float(K) if res_hit else 0.0
    rows = per_rows + [("worst_case", NPROBE, int(np.floor(minf * 1e6)))]
    return spark.createDataFrame(rows, "part string, k bigint, v bigint")


def q_sampling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling merged: per-language stratified rates,
    target domain mixture, and the per-source anti-dominance cap."""
    z = F.lit(0).cast("bigint")
    strat = q_stratified_sample(spark, sf_dir).select(
        F.lit("stratified").alias("strategy"), "doc_id",
        F.col("lang").alias("stratum"), z.alias("rk"),
    )
    mix = q_domain_mix(spark, sf_dir).select(
        F.lit("domain_mix").alias("strategy"), "doc_id",
        F.col("lang").alias("stratum"), z.alias("rk"),
    )
    cap = q_source_cap(spark, sf_dir).select(
        F.lit("source_cap").alias("strategy"), "doc_id",
        F.col("source").alias("stratum"), F.col("rk").cast("bigint").alias("rk"),
    )
    return strat.unionByName(mix).unionByName(cap)


def q_events_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING merged: the raw flatMapGroupsWithState-style
    sessionize twin and the watermarked session_window stats twin —
    both full micro-batch pipelines — melted to one tagged frame."""
    z = F.lit(0).cast("bigint")
    raw = q_stream_sessionize_events(spark, sf_dir).select(
        F.lit("sessionize").alias("part"), "user_id",
        F.col("ts_us").alias("a"), F.col("session_id").alias("b"), z.alias("c"),
    )
    stats = q_stream_session_stats(spark, sf_dir).select(
        F.lit("session_stats").alias("part"), "user_id",
        F.col("start_ts").alias("a"), F.col("end_ts").alias("b"),
        F.col("n_events").alias("c"),
    )
    return raw.unionByName(stats)


_ORACLE_EVENTS_STREAMING = _parts_oracle(
    "part",
    ("sessionize", "user_id, ts_us AS a, session_id AS b, 0::BIGINT AS c",
     _ORACLE_STREAM_SESSIONIZE),
    ("session_stats", "user_id, start_ts AS a, end_ts AS b, n_events AS c",
     _ORACLE_STREAM_SESSIONS),
)


# entries that drive a Structured Streaming pipeline (micro-batch
# drains + tempdir IO): correctness-gated like everything else, but
# excluded from bench.py's timed headline set
STREAMING_QUERIES: set[str] = {
    "events_streaming",
}

# ORDERING POLICY: the driver's CORRECTNESS gate verifies the FIRST 50
# entries of this dict. As of r05 the catalog is consolidated to
# exactly 50 entries (VERDICT r04 Next #3), so EVERY entry gets a
# driver row EVERY round; ordering is merely newest-shape-first.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- consolidated entries (new r05 shapes: tag-unions / id joins
    #    of previously separate driver rows) --
    "exact_knn": q_exact_knn,
    "sharded_knn": q_sharded_knn,
    "flat_variants_knn": q_flat_variants_knn,
    "ann_cosine": q_ann_cosine,
    "ivf_knn": q_ivf_knn,
    "bounded_knn": q_bounded_knn,
    "embedding_near_dup": q_embedding_near_dup_suite,
    "text_profile": q_text_profile,
    "doc_chunks": q_doc_chunks_profile,
    "minhash_dedup": q_minhash_dedup,
    "simhash_dedup": q_simhash_dedup,
    "kmeans_step": q_kmeans_step,
    "index_maintenance": q_index_maintenance,
    "index_stats": q_index_stats,
    "events_analytics": q_events_analytics,
    "relational_reports": q_relational_reports,
    "recall_report": q_recall_report,
    "sampling_suite": q_sampling_suite,
    "events_streaming": q_events_streaming,
    # -- unchanged entries --
    "png_decode_stats": q_png_decode_stats,
    "bpe_merges": q_bpe_merges,
    "bpe_vocab": q_bpe_vocab,
    "quality_topk_per_source": q_quality_topk_per_source,
    "decontamination": q_decontamination,
    "pack_sequences": q_pack_sequences,
    "sessionize": q_sessionize,
    "asof_join": q_asof_join,
    "semantic_keep_best": q_semantic_keep_best,
    "vocab_top_terms": q_vocab_top_terms,
    "json_props_stats": q_json_props_stats,
    "bloom_seen_flags": q_bloom_seen_flags,
    "source_length_profile": q_source_length_profile,
    "bpe_pair_stats": q_bpe_pair_stats,
    "shipping_priority": q_shipping_priority,
    "curation_pipeline": q_curation_pipeline,
    "corpus_curation_report": q_corpus_curation_report,
    "dedup_clusters": q_dedup_clusters,
    "exact_dedup": q_exact_dedup,
    "ngram_jaccard_pairs": q_ngram_jaccard,
    "ivfpq_refine_knn": q_ivfpq_refine_knn,
    "ivfpqr_knn": q_ivfpqr_knn,
    "bounded_knn_bound_check": q_bounded_bound_check,
    "time_bounded_knn": q_time_bounded_knn,
    "laet_knn": q_laet_knn,
    "hnsw_knn": q_hnsw_knn,
    "imi_knn": q_imi_knn,
    "multimodal_byte_features": q_multimodal_features,
    "hamming_knn_sign": q_hamming_knn,
    "knn_rerank_subset": q_knn_rerank_subset,
    "range_search_l2": q_range_search_l2,
}

ORACLES: dict[str, str] = {
    # -- consolidated entries --
    "exact_knn": _ORACLE_EXACT_KNN,
    "sharded_knn": _ORACLE_SHARDED_KNN,
    "flat_variants_knn": _parts_oracle(
        "variant",
        ("base_shift", "qid, pos, id", _ORACLE_BASE_SHIFT),
        ("one_d", "qid, pos, id", _ORACLE_KNN_1D),
    ),
    "ann_cosine": _parts_oracle(
        "variant",
        ("brute", "qid, pos, id", _ORACLE_ANN_COSINE),
        ("ivf", "qid, pos, id", _ORACLE_ANN_COSINE_IVF),
    ),
    "ivf_knn": _parts_oracle(
        "variant",
        ("flat", "qid, pos, id", _ORACLE_IVF_SEARCH),
        ("sq4", "qid, pos, id", _ORACLE_IVFSQ4),
    ),
    # convergence contract (VERDICT r06 Next #4): at require_acc=1.0
    # under multipler=nlist every query probes exhaustively, so the
    # staged adaptive output replays hash-exactly as exact kNN
    "bounded_knn": _ORACLE_KNN_L2,
    "embedding_near_dup": _parts_oracle(
        "variant",
        ("brute", "id_a, id_b, cos", _ORACLE_EMB_NEAR_DUP),
        ("lsh", "id_a, id_b, cos",
         "SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0 AS cos"
         " FROM embeddings"),
    ),
    "text_profile": (
        f"SELECT s.*, l.lang_pred, f.fp FROM ({_ORACLE_TEXT_STATS.strip()}) s"
        f" JOIN ({_ORACLE_LANGID.strip()}) l ON l.id = s.id"
        f" JOIN ({_ORACLE_FINGERPRINT.strip()}) f ON f.id = s.id"
    ),
    "doc_chunks": (
        f"SELECT c.*, r.n_ngrams, r.n_distinct, r.dup_frac_u, r.top_frac_u,"
        f" r.dup_char_frac_u FROM ({_ORACLE_CHUNKS.strip()}) c"
        f" JOIN ({_ORACLE_REPETITION.strip()}) r ON r.id = c.id"
    ),
    "minhash_dedup": _ORACLE_MINHASH_DEDUP,
    "simhash_dedup": _ORACLE_SIMHASH_DEDUP,
    "kmeans_step": _ORACLE_KMEANS_STEP,
    "index_maintenance": _parts_oracle(
        "part",
        ("kept", "id AS a, list_no AS b, 0::BIGINT AS v", _ORACLE_REMOVE_IDS),
        ("reconstruct", "id AS a, dim AS b, val_u AS v", _ORACLE_RECONSTRUCT),
    ),
    "index_stats": _parts_oracle(
        "part",
        ("matrix",
         "dim AS k, n AS a, min_u AS b, max_u AS c, mean_u AS d, n_zero AS e",
         _ORACLE_MATRIX_STATS),
        ("list_sizes",
         "list_no AS k, cnt AS a, 0::BIGINT AS b, 0::BIGINT AS c,"
         " 0::BIGINT AS d, 0::BIGINT AS e",
         _ORACLE_LIST_SIZES),
    ),
    "events_analytics": _parts_oracle(
        "part",
        ("window",
         "event_type, window_epoch AS a, n_events AS b, sum_value_m AS c",
         _ORACLE_EVENTS_WINDOW),
        ("top_users", "event_type, rk AS a, user_id AS b, 0::BIGINT AS c",
         _ORACLE_EVENTS_TOP_USERS),
    ),
    "relational_reports": _parts_oracle(
        "part",
        ("pricing",
         "l_returnflag AS k1, l_linestatus AS k2, n_rows AS a, sum_qty_c AS b,"
         " revenue_u AS c, n_orders AS d",
         _ORACLE_PRICING),
        ("region_revenue",
         "r_name AS k1, '' AS k2, n_items AS a, revenue_u AS b,"
         " n_customers AS c, 0::BIGINT AS d",
         _ORACLE_REVENUE_BY_REGION),
        ("brand_top",
         "p_brand AS k1, '' AS k2, rk AS a, partkey AS b, 0::BIGINT AS c,"
         " 0::BIGINT AS d",
         _ORACLE_TOP_PARTS),
    ),
    "recall_report": _parts_oracle(
        "part",
        ("per_query", f"qid AS k, CAST(round(recall * {K}) AS BIGINT) AS v",
         _ORACLE_RECALL),
        ("worst_case", "nprobe AS k, minf_u AS v", _ORACLE_IVF_WORST_CASE),
    ),
    "sampling_suite": _parts_oracle(
        "strategy",
        ("stratified", "doc_id, lang AS stratum, 0::BIGINT AS rk",
         _ORACLE_STRATIFIED),
        ("domain_mix", "doc_id, lang AS stratum, 0::BIGINT AS rk",
         _ORACLE_DOMAIN_MIX),
        ("source_cap", "doc_id, source AS stratum, rk::BIGINT AS rk",
         _ORACLE_SOURCE_CAP),
    ),
    "events_streaming": _ORACLE_EVENTS_STREAMING,
    # -- unchanged entries --
    "png_decode_stats": _ORACLE_PNG_DECODE,
    "bpe_merges": _oracle_bpe_merges(),
    "bpe_vocab": _oracle_bpe_vocab(),
    "quality_topk_per_source": _ORACLE_QUALITY_TOPK,
    "decontamination": _ORACLE_DECON,
    "pack_sequences": _ORACLE_PACK,
    "sessionize": _ORACLE_SESSIONIZE,
    "asof_join": _ORACLE_ASOF,
    "semantic_keep_best": _ORACLE_SEMANTIC_KEEP_BEST,
    "vocab_top_terms": _ORACLE_VOCAB,
    "json_props_stats": _ORACLE_JSON_PROPS,
    "bloom_seen_flags": _ORACLE_BLOOM,
    "source_length_profile": _ORACLE_LENGTH_PROFILE,
    "bpe_pair_stats": _ORACLE_BPE,
    "shipping_priority": _ORACLE_Q3,
    "curation_pipeline": _ORACLE_PIPELINE,
    "corpus_curation_report": _ORACLE_CURATION_REPORT,
    "dedup_clusters": _ORACLE_DEDUP_CLUSTERS,
    "exact_dedup": _ORACLE_EXACT_DEDUP,
    "ngram_jaccard_pairs": _ORACLE_NGRAM_JACCARD,
    "ivfpq_refine_knn": _ORACLE_IVFPQ_REFINE,
    "ivfpqr_knn": _ORACLE_IVFPQR,
    "bounded_knn_bound_check": (
        _Q_CTE
        + "\nSELECT 'fixed' AS variant, count(*) AS n_queries,"
        " true AS bound_holds FROM q"
        "\nUNION ALL\nSELECT 'mixed' AS variant, count(*) AS n_queries,"
        " true AS bound_holds FROM q"
    ),
    # anytime contract: budget → ∞ converges to the exact scan, so the
    # generous-budget entry replays hash-exactly as exact kNN
    "time_bounded_knn": _ORACLE_KNN_L2,
    # learned/graph methods: per-row results aren't SQL-replayable; the
    # entries return their correctness contracts as assertion rows
    # (the bound_check pattern) — the oracle states the contract and
    # the row-production invariant n_result_rows = n_queries · K
    "laet_knn": (
        _Q_CTE
        + f"\nSELECT count(*) AS n_queries,"
        f" CAST(count(*) * {K} AS BIGINT) AS n_result_rows,"
        " true AS recall_target_met FROM q"
    ),
    "hnsw_knn": (
        _Q_CTE
        + f"\nSELECT count(*) AS n_queries,"
        f" CAST(count(*) * {K} AS BIGINT) AS n_result_rows,"
        " true AS recall_target_met FROM q"
    ),
    "imi_knn": _ORACLE_IMI,
    "multimodal_byte_features": _ORACLE_MULTIMODAL,
    "hamming_knn_sign": _ORACLE_HAMMING,
    "knn_rerank_subset": _ORACLE_RERANK,
    "range_search_l2": _ORACLE_RANGE,
}
