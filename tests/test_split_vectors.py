"""IndexSplitVectors (index/split.py) — dimension-sharded exact search
must equal whole-vector exact search (Σ of per-shard sub-distances is
the full L2/IP distance; ``Auncel/MetaIndexes.cpp:188-297``)."""

from __future__ import annotations

import numpy as np
import pytest

from auncel_spark.config import Metric
from auncel_spark.index.split import split_columns, split_vectors_knn
from auncel_spark.operators.knn import knn_exact

K = 5


def _ids(df):
    return [(r["qid"], r["pos"], r["id"]) for r in df.orderBy("qid", "pos").collect()]


@pytest.mark.parametrize("nsplit,metric", [(4, Metric.L2), (3, Metric.L2), (4, Metric.IP)])
def test_split_matches_whole_vector(base_df, query_df, nsplit, metric):
    # d=16: nsplit=3 exercises the uneven last shard (6, 6, 4)
    shards = split_columns(base_df, nsplit, d=16)
    got = split_vectors_knn(query_df, shards, K, metric)
    want = knn_exact(query_df, base_df, K, metric)
    assert _ids(got) == _ids(want)
    gd = {(r["qid"], r["id"]): r["dist"] for r in got.collect()}
    wd = {(r["qid"], r["id"]): r["dist"] for r in want.collect()}
    for key, v in wd.items():
        assert gd[key] == pytest.approx(v, abs=1e-9)


def test_split_columns_layout(base_df, tiny_vectors):
    xb, _ = tiny_vectors
    shards = split_columns(base_df, 3, d=16)
    assert [len(s.select("vec").first()[0]) for s in shards] == [6, 6, 4]
    row0 = [s.filter("id = 0").first()["vec"] for s in shards]
    flat = [v for part in row0 for v in part]
    assert np.allclose(flat, xb[0], atol=1e-6)


def test_split_rejects_cosine(base_df, query_df):
    shards = split_columns(base_df, 2, d=16)
    with pytest.raises(ValueError):
        split_vectors_knn(query_df, shards, K, Metric.COSINE)
