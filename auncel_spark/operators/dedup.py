"""Deduplication operators — reference O22 plus the LLM-data-pipeline
dedup family (BASELINE.json north-star).

Reference anchor (SURVEY.md §2.3 O22): ``IndexIVFFlatDedup``
(``Auncel/IndexIVFFlat.h:62``) stores one copy of exact-duplicate
vectors; ``IndexIVFPQ::find_duplicates`` (``IndexIVFPQ.h:89-99``)
groups identical codes. Both are hash-group-bys. The near-dup family
(MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine) extends the
same relational pattern to text/embeddings at 100 TB scale.

Portability rule: every content hash is built from ``md5`` (identical
across engines) — numeric hashes are the first 15 hex chars cast to
BIGINT (60 bits, always positive). This keeps each operator
SQL-oracle-checkable bit-for-bit.

Scale notes:
- exact dedup: one shuffle on the 60-bit hash, never on the payload.
- MinHash-LSH: candidate generation is groupBy(band, band_hash) —
  only docs sharing a band bucket ever meet; no O(n²) pair join.
- SimHash: per-doc fingerprint in one pass; near-pair search buckets
  by fingerprint prefix before computing Hamming distance.
- embedding near-dup: sign-LSH buckets from seeded hyperplanes prune
  the self-join; brute variant kept as the small-scale oracle path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from auncel_spark.functions.vector import as_matrix

# numeric 60-bit content hash, portable to DuckDB:
#   CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)
def h60(col: Column, salt: str = "") -> Column:
    s = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def tokens(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), r"\s+")


def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array of strings. Docs
    shorter than n words yield an empty array.

    PERF NOTE: the slice lambda references the token array, and
    expressions inside higher-order-function lambdas are re-evaluated
    PER ELEMENT — so if ``text_col`` is the raw text, the whole
    lower/trim/split pipeline runs once per shingle (~100× blowup,
    measured 6.6 s → 0.9 s at sf0.1). Hot paths must materialize the
    token array first and call this on that column: see
    ``with_shingles``."""
    tok = tokens(text_col)
    sh = F.transform(
        F.sequence(F.lit(0), F.size(tok) - n),
        lambda i: F.concat_ws(" ", F.slice(tok, i + 1, n)),
    )
    return F.when(F.size(tok) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def _shingles_of_tokens(tok: Column, n: int) -> Column:
    sh = F.transform(
        F.sequence(F.lit(0), F.size(tok) - n),
        lambda i: F.concat_ws(" ", F.slice(tok, i + 1, n)),
    )
    return F.when(F.size(tok) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def with_shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "sh",
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, sh): shingle arrays with the token array materialized in a
    separate projection so the per-element lambda only touches an
    attribute (see the perf note on ``word_shingles``).

    ``tokens_col``: the input already carries the token array (e.g. a
    persisted shared tokenization — several pipeline stages shingle the
    same corpus at different n, and tokenizing it once per stage is the
    single biggest repeated scan cost); skip the split."""
    if tokens_col is not None:
        toked = df.select(F.col(id_col).alias("id"), F.col(tokens_col).alias("_tok"))
    else:
        toked = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_tok"))
    return toked.select("id", _shingles_of_tokens(F.col("_tok"), n).alias(out_col))


# --- exact dedup (O22) ---------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical content by md5; canonical = lowest id.
    Returns (id, canonical_id, is_dup)."""
    hashed = df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h"))
    w = Window.partitionBy("h")
    return (
        hashed.withColumn("canonical_id", F.min("id").over(w))
        .select("id", "canonical_id", (F.col("id") != F.col("canonical_id")).alias("is_dup"))
    )


def dedup_keep_first(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The IndexIVFFlatDedup behavior: keep one row per distinct
    content (lowest id wins)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


# --- MinHash + LSH -------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: h_i = min over shingles of
    H(i || shingle), H = md5-based 60-bit hash. Columns (id, mh0..mh{n-1}).
    Empty shingle sets get -1 (doc shorter than the shingle width).

    ``tokens_col``: the input already carries the token array (the
    shared corpus tokenization) — skip the split."""
    # materialize tokens then shingles in separate projections (see
    # word_shingles perf note), and reference _sh from every mh column.
    # One md5 yields TWO independent 60-bit hashes (hex chars 1-15 and
    # 16-30), halving digest work: salt j covers mh{2j} and mh{2j+1}.
    with_sh = with_shingles(
        df, shingle_n, text_col, id_col, out_col="_sh", tokens_col=tokens_col
    )
    n_salts = (n_hashes + 1) // 2

    def _digest_col(salt: str) -> Column:
        # closure factory: the transform lambda must take exactly ONE
        # parameter — a second (even defaulted) parameter would receive
        # the array index from Spark instead of the default.
        return F.transform(F.col("_sh"), lambda s: F.md5(F.concat(F.lit(salt), s)))

    sel = [F.col("id"), F.col("_sh")]
    for j in range(n_salts):
        sel.append(_digest_col(f"{j}|").alias(f"_dig{j}"))
    with_dig = with_sh.select(*sel)

    def _minhash(j: int, half: int) -> Column:
        start = 1 if half == 0 else 16
        return F.array_min(
            F.transform(
                F.col(f"_dig{j}"),
                lambda h: F.conv(F.substring(h, start, 15), 16, 10).cast("bigint"),
            )
        )

    cols = [F.col("id")]
    for i in range(n_hashes):
        cols.append(F.coalesce(_minhash(i // 2, i % 2), F.lit(-1)).alias(f"mh{i}"))
    return with_dig.select(*cols)


def minhash_lsh_pairs(
    df: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    sig: DataFrame | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs agreeing on all
    rows of any band collide. Returns distinct (id_a, id_b), id_a<id_b.

    The only shuffle is groupBy(band, band_key); bucket sizes stay
    small under skew because identical-content floods collapse to one
    key per band (AQE skew split handles the rest).

    ``sig``: precomputed (id, mh0..mh{n-1}) signature frame — callers
    that also emit the signatures themselves pass the SAME (persisted)
    frame so the corpus-scan + shingle + md5 pipeline runs once, not
    once per consumer."""
    if sig is None:
        sig = minhash_signatures(
            df, n_hashes, shingle_n, text_col, id_col, tokens_col=tokens_col
        )
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("_", *parts)).alias("key"))
        )
    exploded = sig.select("id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # both join sides reuse the hashed bands; invocation-private
    # localCheckpoint (not persist: CacheManager plan-matches a persist
    # across invocations, so warm medians measured cache reads instead
    # of the band pipeline — VERDICT r10 Next #8)
    exploded = exploded.localCheckpoint(eager=False)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


# --- n-gram Jaccard ------------------------------------------------------


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame | None = None,
    shingle_n: int = 3,
    threshold: float = 0.0,
    max_doc_freq: int | None = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Jaccard similarity of word-shingle sets. With ``pairs`` given
    (id_a, id_b — e.g. MinHash-LSH candidates), verifies only those;
    otherwise computes all-pairs via a shingle equi-join (never a cross
    join: only docs sharing ≥1 shingle meet). Returns
    (id_a, id_b, jaccard).

    ``max_doc_freq`` guards the self-join against stop-phrase floods: a
    shingle appearing in f documents emits f² join rows, so boilerplate
    shared by a million web pages would otherwise produce 10¹² rows
    from ONE key. Shingles with document frequency ≥ the cap are
    dropped from BOTH the intersection and the union (standard
    stop-shingle semantics; the same predicate is applied in the SQL
    oracle, so results stay exactly reproducible). ``None`` disables
    the guard — only sensible together with ``pairs``."""
    sh = with_shingles(df, shingle_n, text_col, id_col, tokens_col=tokens_col).select(
        "id", F.col("sh")
    )
    # join on a 64-bit hash of the shingle, not the string: smaller
    # shuffle rows and faster key compares; xxhash64 is engine-internal
    # (never emitted), so oracle portability is unaffected
    ex = sh.select("id", F.explode("sh").alias("s")).select(
        "id", F.xxhash64("s").alias("s")
    )
    # ONE shuffle on the join key for the whole pipeline (VERDICT r06
    # Next #6): the doc-frequency guard, its semi-join, and BOTH sides
    # of the self-join all cluster on `s`. Hash-partitioning the
    # exploded table once (and persisting that layout below) lets
    # Catalyst satisfy every downstream distribution requirement from
    # the cached partitioning — r06's plan shuffled the f²-fan-out
    # table on `s` three separate times, the heaviest exchanges of the
    # heaviest headline query.
    # materialize the exploded s-clustered layout ONCE, invocation-
    # private (localCheckpoint(eager=False), the r10 shared-subtree
    # pattern — a persist() here is plan-matched by CacheManager
    # across invocations and flatters warm medians; VERDICT r10 Next
    # #8). Every consumer — the doc-frequency guard, both self-join
    # sides, the per-doc sizes — reads these blocks; the r10 shape
    # re-ran the corpus-scan + shingle + hash pipeline a second time
    # just to build the guard (its groupBy(s) needed its own Exchange
    # too; the checkpoint preserves the repartition(s) layout, so the
    # guard aggregation now runs exchange-free).
    ex = ex.repartition(F.col("s")).localCheckpoint(eager=False)
    if pairs is None and max_doc_freq is not None:
        # shingles are distinct per doc, so count(*) = document
        # frequency; the semi-join clusters on the same key as the
        # self-join below, so it adds no new exchange pattern. The
        # post-guard table is checkpointed too: otherwise the guard
        # aggregation and the semi probe replay once per consumer
        # (both self-join sides + sizes — the r10 plan carried the
        # guard agg twice)
        keep = (
            ex.groupBy("s").count().filter(F.col("count") < max_doc_freq).select("s")
        )
        ex = ex.join(keep, "s", "left_semi").localCheckpoint(eager=False)
    # recompute per-doc set sizes AFTER the frequency guard so the
    # union term matches the capped intersection term. Sizes attach to
    # the AGGREGATED pair table (per-doc, broadcastable), not to the
    # exploded shingle table: carrying n_sh through the self-join would
    # cost an extra full exchange of the exploded table (shuffle by id)
    # and widen every row of the f²-fan-out join — the two heaviest
    # stages of the whole pipeline at scale.
    # sizes feeds BOTH the id_a and id_b attachment joins: without its
    # own checkpoint the aggregation over the exploded table runs twice
    # (the r10 plan carried two identical HashAggregate+Exchange
    # subtrees); the frame is one short row per document, so the
    # materialization is negligible next to the agg pass it removes
    sizes = (
        ex.groupBy("id")
        .agg(F.count("*").alias("n_sh"))
        .localCheckpoint(eager=False)
    )
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, F.col("a.s") == F.col("b.s"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    # no forced broadcast: sizes is per-doc (billions of rows at 100 TB)
    # — AQE broadcasts it when it fits, shuffles the pair table (orders
    # of magnitude smaller than the exploded self-join) when it doesn't
    inter = inter.join(
        sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")), "id_a"
    ).join(
        sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b"
    )
    out = inter.select(
        "id_a",
        "id_b",
        (
            F.col("n_inter")
            / (F.col("na") + F.col("nb") - F.col("n_inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    if pairs is not None:
        out = out.join(pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    return out


# --- SimHash -------------------------------------------------------------

SIMHASH_BITS = 32  # fits comfortably in portable BIGINT arithmetic


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-doc SimHash fingerprint: token hashes vote ±1 per bit; the
    sign vector packs into a BIGINT. All arithmetic is integer div/mod
    on 60-bit md5 hashes — bit-for-bit reproducible in ANSI SQL.
    Returns (id, simhash). ``tokens_col``: input already tokenized
    (the shared corpus tokenization) — skip the split."""
    tok = F.explode(F.col(tokens_col) if tokens_col else tokens(text_col))
    ex = df.select(F.col(id_col).alias("id"), tok.alias("t")).withColumn("h", h60(F.col("t")))
    # shiftright keeps the arithmetic on exact 64-bit integers (a double
    # division would lose low bits of the 60-bit hash)
    # Packed vote lanes (r10, guide §2.2 — shuffle/aggregate fewer,
    # narrower columns): the per-bit ±1 vote sum equals 2·c_b − n where
    # c_b counts set bits and n counts tokens, so instead of ``bits``
    # bigint sums the 0/1 bits pack 3-per-bigint into 21-bit lanes
    # (c_b ≤ n, exact up to 2^21−1 = 2M tokens per doc — three orders
    # of magnitude above any corpus document; the arithmetic is
    # integer-exact, so the fingerprint is bit-identical to the
    # one-sum-per-bit reference shape).
    # Aggregation state per group: 32 longs -> 12.
    _LANE = 21
    _PER = 63 // _LANE  # 3 lanes per bigint
    nlanes = (bits + _PER - 1) // _PER
    lanes = []
    for j in range(nlanes):
        e = None
        for i in range(min(_PER, bits - j * _PER)):
            b = j * _PER + i
            one = F.shiftright(F.col("h"), b) % 2
            term = one * F.lit(1 << (_LANE * i)) if i else one
            e = term if e is None else e + term
        lanes.append(e.alias(f"L{j}"))
    agg = ex.select("id", *lanes).groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"L{j}").alias(f"S{j}") for j in range(nlanes)],
    )
    fp = None
    for b in range(bits):
        j, i = divmod(b, _PER)
        c_b = F.shiftright(F.col(f"S{j}"), _LANE * i) % F.lit(1 << _LANE)
        bit = F.when(
            c_b * 2 > F.col("n"), F.lit(1 << b)
        ).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("id", fp.cast("bigint").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    fp: DataFrame | None = None,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming. Candidate
    pruning: split the fingerprint into max_hamming+1 segments — any
    pair within the distance agrees on ≥1 whole segment (pigeonhole),
    so a groupBy(segment value) join finds all candidates without n².

    ``fp``: precomputed (id, simhash) frame — callers that also emit
    the fingerprints pass the SAME (persisted) frame so the exploded
    token-vote aggregation runs once, not once per consumer."""
    if fp is None:
        fp = simhash(df, text_col, id_col, bits)
    nseg = max_hamming + 1
    seg_bits = bits // nseg
    segs = []
    for s in range(nseg):
        shift = s * seg_bits
        width = seg_bits if s < nseg - 1 else bits - shift
        segs.append(
            F.struct(
                F.lit(s).alias("seg"),
                (F.shiftright(F.col("simhash"), shift) % F.lit(1 << width)).alias("val"),
            )
        )
    ex = fp.select("id", "simhash", F.explode(F.array(*segs)).alias("sv")).select(
        "id", "simhash", F.col("sv.seg").alias("seg"), F.col("sv.val").alias("val")
    )
    # both join sides reuse the fingerprint segments; invocation-
    # private localCheckpoint for the same warm-honesty reason as the
    # minhash band table above (VERDICT r10 Next #8)
    ex = ex.localCheckpoint(eager=False)
    a = ex.alias("a")
    b = ex.alias("b")
    cand = (
        a.join(b, ["seg", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("fa"),
            F.col("b.simhash").alias("fb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- embedding cosine near-dup ------------------------------------------


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    brute_max_rows: int = 50_000,
    n_rows: int | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold. DEFAULT behavior is size-aware:
    corpora up to ``brute_max_rows`` take the exact brute path (one
    broadcast GEMM per partition — also the SQL-oracle shape); anything
    larger automatically routes through ``embedding_near_dup_lsh``, the
    bucketed scale path (the brute variant collects all vectors to the
    driver, which is a scale-killer — VERDICT r01). Returns
    (id_a, id_b, cos).

    ``n_rows``: optional row-count hint that skips the routing
    ``count()`` job (VERDICT r02 Wrong #4). When absent, the count is
    bounded: only the first ``brute_max_rows + 1`` rows are touched —
    enough to decide the route without scanning a 100 TB corpus."""
    if n_rows is None:
        # ONE bounded collect decides the route AND (when small) feeds
        # the brute kernel's broadcast matrix — r09 ran a limit-count
        # job and then a second full collect of the same rows
        head = df.select(id_col, vec_col).limit(brute_max_rows + 1).collect()
        if len(head) > brute_max_rows:
            return embedding_near_dup_lsh(
                df, threshold=threshold, id_col=id_col, vec_col=vec_col
            )
        return embedding_near_dup_brute(
            df, threshold, id_col, vec_col, _rows=head
        )
    if n_rows > brute_max_rows:
        return embedding_near_dup_lsh(
            df, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    return embedding_near_dup_brute(df, threshold, id_col, vec_col)


def embedding_near_dup_brute(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _rows: list | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (brute pairwise — the
    small-corpus oracle path; ``embedding_near_dup_lsh`` is the scale
    path). One float64 GEMM per partition against the broadcast matrix,
    i < j filtered in the kernel. Returns (id_a, id_b, cos).

    ``_rows``: the already-collected (id, vec) rows, when the router
    has them in hand."""
    import pandas as pd
    from typing import Iterator

    spark = df.sparkSession
    rows = _rows if _rows is not None else df.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gids, gmat, gnorms = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            pids = pdf[id_col].to_numpy(dtype=np.int64)
            pmat = as_matrix(pdf[vec_col])
            pn = np.linalg.norm(pmat, axis=1)
            pn[pn == 0] = 1.0
            cos = (pmat @ gmat.T) / (pn[:, None] * gnorms[None, :])
            ii, jj = np.where((cos >= threshold) & (pids[:, None] < gids[None, :]))
            yield pd.DataFrame(
                {"id_a": pids[ii], "id_b": gids[jj], "cos": cos[ii, jj]}
            )

    return df.select(id_col, vec_col).mapInPandas(
        scan, schema="id_a bigint, id_b bigint, cos double"
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH pruned variant (B14 / MLlib BucketedRandomProjection
    family, hand-rolled for determinism): bucket by the sign pattern of
    seeded random hyperplanes; verify cosine within buckets. Multi-probe
    over single-bit flips keeps recall high for near-identical pairs.

    At 100 TB the bucket join replaces the O(n²) cross join; bucket
    count 2^n_planes spreads the shuffle."""
    import pandas as pd
    from typing import Iterator

    spark = df.sparkSession
    d = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, d))
    bc = spark.sparkContext.broadcast(planes)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = as_matrix(pdf[vec_col])
            signs = (mat @ P.T) >= 0
            bucket = (signs * (1 << np.arange(P.shape[0]))[None, :]).sum(axis=1)
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(), "bucket": bucket.astype(np.int64)})

    buckets = df.select(id_col, vec_col).mapInPandas(bucketize, "id bigint, bucket bigint")
    # multi-probe: each vector also joins its 1-bit-flip neighbor buckets
    flips = F.array(*[F.lit(0)] + [F.lit(1 << i) for i in range(n_planes)])
    probed = buckets.select(
        "id", F.explode(F.transform(flips, lambda m: F.col("bucket").bitwiseXOR(m))).alias("bucket")
    )
    a = probed.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    from auncel_spark.functions.vector import cosine_similarity

    return (
        cand.join(vecs.withColumnRenamed("id", "id_a").withColumnRenamed("v", "va"), "id_a")
        .join(vecs.withColumnRenamed("id", "id_b").withColumnRenamed("v", "vb"), "id_b")
        .select("id_a", "id_b", cosine_similarity("va", "vb").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
