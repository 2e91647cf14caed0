"""Output identity of the IVF/ELP ranked-list scans between two source trees.

``dump`` imports the engine from TREE, builds one seeded corpus and
index, and pickles the result rows (qid, pos, id, dist) and
``return_info`` arrays of ``IVFIndex.search``, ``ErrorProfile.search``,
``ErrorProfile.time_search`` and ``LearnedTermination.search`` — first on
the flat lists, then on the SQ8 scan replica with its exact refine. A
tree whose replica is opted in separately (``use_replica``, with a
``build_refine_sidecar`` refine store) gets those calls; a tree without
them scans the replica once it is built.
A third, coded section dumps searches over coded lists at nprobe <
nlist: ``IVFPQIndex.search`` (residual L2 and IP), ``search_refine``
against a DataFrame base (twice, so the second call reads the store the
first wrote), ``IVFSQIndex.search`` (8bit and 4bit) and
``BinaryIVFIndex.search``. A fourth, ``rflat`` section dumps the index
factory's ``RFlat`` re-rank for ``IVF8,PQ4,RFlat`` and
``PCA8,IVF8,Flat,RFlat`` (each index's k·4 candidates re-ranked exactly
against the base, in the transformed space for the PCA chain). A fifth,
``train`` section dumps ``train_kmeans`` on the base (L2, and IP with
spherical centroids): the centroids, the objective history and every
base row's list under them. A sixth, ``store`` section dumps the list
store of every coded build — ``store/ivfpq/l2`` and ``/ip`` (the coded
section's), ``store/ivfpq/opq`` (OPQ rotation and codebooks trained
in the build), ``store/ivfpqr``, ``store/ivfsq/8bit`` and ``/4bit``,
``store/binary_ivf`` and ``store/imi``: its ``ids`` and ``offsets`` and
every payload column (``code``, ``rcode``, ``bits``; ``vec`` for IMI),
compared byte for byte.
``compare`` checks two dumps with
``DataFrame.equals`` / ``array_equal`` and exits non-zero on any
difference. A refactor that claims "the same bits" runs ``dump`` once
per tree (e.g. a ``git archive`` of the parent and the working tree) and
``compare`` on the two files.

One exception: the distances of the flat, replica and rflat sections
(IVF, ELP, LAET and factory searches) and of ``IVFPQIndex.search`` and
``IVFSQIndex.search`` need only agree within 1e-9 relative (qid, pos,
id and every ``return_info`` array must still be equal). Their scan
reads a list in whichever blocks the task layout gives it, and BLAS may
round one element of a GEMM differently when the block has another
shape: a scan's distance block is one GEMM per block of a list, and a PQ
scan task builds the query-side lookup table with one GEMM over the
queries it meets first. Since the list store, the GEMM blocks follow
whole lists rather than parquet row groups, so a tree on either side of
that change may move a distance by a rounding step. ``RFlat``'s re-rank
was a float64 SQL join before it read a store on the driver, and the two
sum a distance's terms in different orders. The train section's labels
must be equal, and its centroids and history within 1e-9 relative: a
Lloyd update's sums follow the order its rows were summed in.

Usage:
    python scripts/output_identity.py dump TREE OUT.pkl [--corpus small|perf] [--work DIR]
    python scripts/output_identity.py compare A.pkl B.pkl

Corpora: ``small`` is the tier-1 error-profile fixture's shape (24 blobs,
2,880 × d16, nlist 64, 60 queries); ``perf`` is perfbench's scale
(40k × d96, nlist 256, 300 queries). Centroids come from numpy Lloyd
iterations, not the engine's k-means, so both trees index the same lists.
``time_search`` runs with an unbounded budget (its wall-clock
``retired_ms`` is not compared).
"""

from __future__ import annotations

import argparse
import os
import pickle
import sys
import tempfile

import numpy as np
import pandas as pd

# dumps whose dist may move by a rounding step with the task layout
ROUNDED = ("flat/", "replica/", "coded/ivfpq.search/", "coded/ivfsq.search/", "rflat/")
# dumps whose return_info arrays (trained centroids, objective history)
# may move by a rounding step: the Lloyd sums' order follows the layout
TRAINED = "train/"

CORPORA = {
    # n_blobs, per_blob, d, nq, n_train, nlist, max_topk, topk
    "small": (24, 120, 16, 60, 60, 64, 40, 10),
    "perf": (64, 625, 96, 300, 256, 256, 100, 10),
}


def _data(corpus: str):
    n_blobs, per, d, nq, n_train, nlist, _, _ = CORPORA[corpus]
    rng = np.random.default_rng(11)
    centres = rng.standard_normal((n_blobs, d)) * 3.0
    xb = np.vstack([centres[i] + rng.standard_normal((per, d)) for i in range(n_blobs)])
    pick = rng.integers(0, n_blobs, nq + n_train)
    xq = centres[pick] + rng.standard_normal((nq + n_train, d))
    cents = xb[rng.choice(len(xb), nlist, replace=False)]
    for _ in range(4):  # Lloyd iterations, empty lists keep their centroid
        a = _assign(xb, cents)
        for c in range(nlist):
            m = a == c
            if m.any():
                cents[c] = xb[m].mean(0)
    f32 = np.float32
    return xb.astype(f32), xq[:nq].astype(f32), xq[nq:].astype(f32), cents


def _assign(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    d = (x * x).sum(1)[:, None] + (cents * cents).sum(1)[None] - 2.0 * x @ cents.T
    return d.argmin(1)


def _frame(spark, ids, x, id_col: str):
    return spark.createDataFrame(
        [(int(i), [float(v) for v in r]) for i, r in zip(ids, x)],
        f"{id_col} bigint, vec array<float>",
    )


def dump(tree: str, out: str, corpus: str, work: str) -> None:
    tree = os.path.abspath(tree)
    out, work = os.path.abspath(out), os.path.abspath(work)
    sys.path.insert(0, tree)
    # Python workers start with their cwd first on sys.path: run from
    # the tree, or a tree under the cwd shadows the one given
    os.chdir(tree)
    # Python workers import the engine too: set before the JVM starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (tree, os.environ.get("PYTHONPATH")) if p
    )
    import auncel_spark

    if not os.path.abspath(auncel_spark.__file__).startswith(tree + os.sep):
        raise SystemExit(f"engine imported from {auncel_spark.__file__}, not {tree}")
    from auncel_spark.config import Metric
    from auncel_spark.index.binary import BinaryIVFIndex, pack_bits_np
    from auncel_spark.index.factory import build_index
    from auncel_spark.index.ivf import IVFIndex
    from auncel_spark.index.imi import IMIIndex
    from auncel_spark.index.ivfpq import IVFPQIndex, IVFPQRIndex
    from auncel_spark.index.ivfsq import IVFSQIndex
    from auncel_spark.index.kmeans import assign_lists, train_kmeans
    from auncel_spark.index.pq import ProductQuantizer
    from auncel_spark.profile.error_profile import ErrorProfile
    from auncel_spark.profile.laet import LearnedTermination
    from auncel_spark.session import get_spark

    _, _, _, _, _, nlist, max_topk, topk = CORPORA[corpus]
    xb, xq, xt, cents = _data(corpus)
    spark = get_spark("output_identity", shuffle_partitions=8)
    base = _frame(spark, np.arange(len(xb)), xb, "id").cache()
    queries = _frame(spark, np.arange(len(xq)), xq, "qid").cache()
    train = _frame(spark, np.arange(len(xt)), xt, "qid").cache()
    idx = IVFIndex.build(base, nlist=nlist, centroids=cents, path=os.path.join(work, "ivf"))
    ep = ErrorProfile(idx, max_topk=max_topk)
    ep.fit(train)
    lt = LearnedTermination(idx, max_topk=max_topk, multiplier=1.5)
    lt.fit(train, topk, target_recall=0.9, gbt_iter=4)

    def rows(df):
        pdf = df.toPandas()[["qid", "pos", "id", "dist"]]
        return pdf.sort_values(["qid", "pos"]).reset_index(drop=True)

    def info(d):
        return {k: np.asarray(v) for k, v in d.items() if k != "retired_ms"}

    def store(idx):
        st = idx.store
        cols = {c: np.array(st.column(c)) for c in sorted(st.columns)}
        sizes = pd.DataFrame({"size": st.list_sizes()})
        return sizes, {"ids": np.array(st.ids()), "offsets": st.offsets.copy(), **cols}

    got = {}
    for mode in ("flat", "replica"):
        if mode == "replica":
            idx.build_scan_replica()
            if hasattr(idx, "use_replica"):
                idx.build_refine_sidecar()
                idx.use_replica(True)
        for nprobe in (1, 8):
            got[f"{mode}/ivf.search/nprobe{nprobe}"] = (rows(idx.search(queries, topk, nprobe)), {})
        for acc, mult in ((0.5, 1.0), (0.9, 1.0), (0.9, 3.0)):
            ep.multipler = mult
            res, inf = ep.search(queries, topk, acc, return_info=True)
            got[f"{mode}/elp.search/acc{acc}_m{mult}"] = (rows(res), info(inf))
        ep.multipler = 1.0
        res, inf = ep.time_search(queries, topk, 1e9, return_info=True)
        got[f"{mode}/elp.time_search"] = (rows(res), info(inf))
        res, inf = lt.search(queries, topk, return_info=True)
        got[f"{mode}/laet.search"] = (rows(res), info(inf))

    # coded lists, every codec at nprobe < nlist
    nprobe = 8
    # seeded codebooks (sub-spaces of 4 dims, 256 codes each): 256
    # residuals sliced per sub-space, so no tree trains its own
    rng = np.random.default_rng(5)
    resid = (xb - cents[_assign(xb, cents)])[rng.choice(len(xb), 256, replace=False)]
    m = xb.shape[1] // 4
    pq = ProductQuantizer(resid.reshape(256, m, 4).transpose(1, 0, 2).copy())
    for metric in (Metric.L2, Metric.IP):
        pidx = IVFPQIndex.build(
            base, nlist=nlist, centroids=cents, pq=pq, metric=metric,
            path=os.path.join(work, f"ivfpq_{metric.value}"),
        )
        got[f"coded/ivfpq.search/{metric.value}"] = (rows(pidx.search(queries, topk, nprobe)), {})
        got[f"store/ivfpq/{metric.value}"] = store(pidx)
        if metric == Metric.L2:
            # twice with one base: the second call reads the store the
            # first one wrote from it
            for call in ("", "/again"):
                res = pidx.search_refine(queries, base, topk, nprobe)
                got[f"coded/ivfpq.search_refine{call}"] = (rows(res), {})
    for qtype in ("8bit", "4bit"):
        sidx = IVFSQIndex.build(
            base, nlist=nlist, centroids=cents, qtype=qtype,
            path=os.path.join(work, f"ivfsq_{qtype}"),
        )
        got[f"coded/ivfsq.search/{qtype}"] = (rows(sidx.search(queries, topk, nprobe)), {})
        got[f"store/ivfsq/{qtype}"] = store(sidx)

    def bits(x, id_col):
        return spark.createDataFrame(
            [(i, bytes(b)) for i, b in enumerate(pack_bits_np(x > 0))],
            f"{id_col} bigint, bits binary",
        )

    bidx = BinaryIVFIndex.build(bits(xb, "id"), nlist=16)
    got["coded/binary_ivf.search"] = (rows(bidx.search(bits(xq, "qid"), topk, 4)), {})
    got["store/binary_ivf"] = store(bidx)

    # builds that train and encode through the engine's own kernels
    got["store/ivfpq/opq"] = store(IVFPQIndex.build(
        base, nlist=nlist, centroids=cents, M=8, opq=True, seed=3,
        path=os.path.join(work, "ivfpq_opq"),
    ))
    got["store/ivfpqr"] = store(IVFPQRIndex.build(
        base, nlist=nlist, centroids=cents, M=4, refine_M=8, seed=3,
        path=os.path.join(work, "ivfpqr"),
    ))
    got["store/imi"] = store(IMIIndex.build(base, ksub=8, kmeans_iter=4, seed=3))

    # the factory's exact re-rank of each index's candidates
    for spec in ("IVF8,PQ4,RFlat", "PCA8,IVF8,Flat,RFlat"):
        si = build_index(base, spec, seed=4)
        got[f"rflat/{spec}"] = (rows(si.search(queries, topk, nprobe=4)), {})

    # the engine's own k-means on the base: centroids, history and the
    # list of every base row under them
    for metric in (Metric.L2, Metric.IP):
        tc, hist = train_kmeans(
            base, nlist, metric=metric, max_iter=4, seed=7, sample_size=4096,
            spherical=metric == Metric.IP,
        )
        labels = assign_lists(base, tc, metric).select("id", "list_no").toPandas()
        got[f"train/kmeans/{metric.value}"] = (
            labels.sort_values("id").reset_index(drop=True),
            {"centroids": tc, "history": np.asarray(hist)},
        )

    with open(out, "wb") as f:
        pickle.dump(got, f)
    for name, (pdf, _) in got.items():
        print(f"{name}: {len(pdf)} rows")


def compare(a: str, b: str) -> int:
    with open(a, "rb") as f:
        da = pickle.load(f)
    with open(b, "rb") as f:
        db = pickle.load(f)
    bad = 0
    for name in sorted(set(da) | set(db)):
        if name not in da or name not in db:
            print(f"MISSING {name}")
            bad += 1
            continue
        (ra, ia), (rb, ib) = da[name], db[name]
        if name.startswith(ROUNDED):
            keys = ["qid", "pos", "id"]
            same = ra[keys].equals(rb[keys]) and np.allclose(
                ra["dist"], rb["dist"], rtol=1e-9, atol=0
            )
        else:
            same = ra.equals(rb)
        same = same and ia.keys() == ib.keys()
        if name.startswith(TRAINED):
            same = same and all(
                ia[k].shape == ib[k].shape
                and np.allclose(ia[k], ib[k], rtol=1e-9, atol=0)
                for k in ia
            )
        else:
            same = same and all(np.array_equal(ia[k], ib[k]) for k in ia)
        print(f"{'same' if same else 'DIFF'} {name} ({len(ra)} rows)")
        bad += not same
    print(f"{len(da) - bad}/{len(da)} identical")
    return 1 if bad else 0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("dump")
    d.add_argument("tree")
    d.add_argument("out")
    d.add_argument("--corpus", choices=sorted(CORPORA), default="small")
    d.add_argument("--work", default=None, help="index directory (default: a temp dir)")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "compare":
        sys.exit(compare(args.a, args.b))
    with tempfile.TemporaryDirectory() as tmp:
        dump(args.tree, args.out, args.corpus, args.work or tmp)


if __name__ == "__main__":
    main()
