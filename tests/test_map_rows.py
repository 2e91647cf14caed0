"""The Arrow row-map (functions/vector.py ``map_rows``) and the build
transforms that run through it: empty partitions and zero-row batches,
in-place replacement, output-only projection, a streaming source, and
each transform's declared output schema."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from auncel_spark.functions.vector import map_rows

ARR = T.ArrayType(T.FloatType())


def _rows(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.orderBy("id").collect()]


@pytest.fixture(scope="module")
def small(spark):
    rng = np.random.default_rng(7)
    x = rng.standard_normal((50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in r], f"t{i}") for i, r in enumerate(x)],
        "id bigint, vec array<float>, tag string",
    )
    return x, df


def test_empty_partitions_and_zero_row_batches(spark, small):
    x, df = small
    # 12 partitions of 3 rows leave empty ones, and the filter leaves
    # zero-row batches in others
    src = df.filter(F.col("id") % 4 == 0).repartition(12)
    out = map_rows(
        src, lambda m: (m.sum(axis=1), (m > 0)[:, :8]),
        ["vec"], [("s", "double"), ("b", "binary")],
    )
    got = _rows(out, "id", "s", "b")
    keep = np.arange(0, 50, 4)
    assert [g[0] for g in got] == keep.tolist()
    want = x[keep].astype(np.float64)
    np.testing.assert_array_equal([g[1] for g in got], want.sum(axis=1))
    assert [g[2] for g in got] == [bytes(r) for r in (want > 0).astype(np.uint8)]
    # every row filtered away: no batch reaches the kernel
    empty = map_rows(df.filter("id < 0"), lambda m: m, ["vec"], [("vec", "array<float>")])
    assert empty.count() == 0


def test_replaces_a_column_in_place(spark, small):
    x, df = small
    out = map_rows(df, lambda m: m * 2.0, ["vec"], [("vec", "array<float>")])
    assert out.columns == ["id", "vec", "tag"]
    assert out.schema == df.schema
    got = np.array([r[1] for r in _rows(out, "id", "vec")], dtype=np.float32)
    np.testing.assert_array_equal(got, (x.astype(np.float64) * 2.0).astype(np.float32))
    assert [r[1] for r in _rows(out, "id", "tag")] == [f"t{i}" for i in range(50)]


def test_output_only_projection_with_state(spark, small):
    x, df = small
    out = map_rows(
        df, lambda w, ids, m: (ids * 10, m @ w), ["id", "vec"],
        [("id", "bigint"), ("p", "array<float>")], keep=[], state=np.arange(16.0).reshape(8, 2),
    )
    assert out.schema == T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("p", ARR)]
    )
    got = _rows(out, "id", "p")
    assert [g[0] for g in got] == list(range(0, 500, 10))
    want = (x.astype(np.float64) @ np.arange(16.0).reshape(8, 2)).astype(np.float32)
    np.testing.assert_array_equal(np.array([g[1] for g in got], dtype=np.float32), want)


def test_streaming_source(spark, small, tmp_path):
    from auncel_spark.index.kmeans import assign_lists

    x, df = small
    src = str(tmp_path / "src")
    df.select("id", "vec").repartition(3).write.parquet(src)
    cents = x[:4].astype(np.float64)
    stream = spark.readStream.schema("id bigint, vec array<float>").parquet(src)
    q = (
        assign_lists(stream, cents)
        .writeStream.format("memory")
        .queryName("map_rows_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("map_rows_stream").orderBy("id").collect()
    assert [r["id"] for r in got] == list(range(50))
    x64 = x.astype(np.float64)
    d = (x64 * x64).sum(1)[:, None] + (cents * cents).sum(1)[None] - 2.0 * x64 @ cents.T
    assert [r["list_no"] for r in got] == d.argmin(1).tolist()


def test_transform_schemas(spark, small):
    """Each migrated transform keeps the schema it declared when it ran
    as a per-row pandas pipeline."""
    from auncel_spark.index.binary import float_to_binary, lsh_sketch
    from auncel_spark.index.ivfpq import _residual2_df, _residual_df
    from auncel_spark.index.kmeans import assign_lists
    from auncel_spark.index.polysemous import remap_codes
    from auncel_spark.index.pq import ProductQuantizer
    from auncel_spark.index.spectral import SpectralHash
    from auncel_spark.index.sq import ScalarQuantizer
    from auncel_spark.index.transforms import RandomRotation

    x, df = small
    f = df.schema.fields

    def field(name, typ):
        return T.StructField(name, typ)

    def fields(frame):
        return list(frame.schema.fields)

    rng = np.random.default_rng(1)
    pq = ProductQuantizer(rng.standard_normal((2, 16, 4)))
    sq = ScalarQuantizer(np.full(8, -3.0), np.full(8, 6.0), "4bit")
    cents = x[:3].astype(np.float64)

    assigned = assign_lists(df, cents)
    assert fields(assigned) == f + [
        field("list_no", T.IntegerType()), field("cdist", T.DoubleType())
    ]
    coded = pq.encode(df)
    assert fields(coded) == f + [field("code", T.BinaryType())]
    assert fields(pq.decode(coded)) == fields(coded) + [field("vec_dec", ARR)]
    sq_coded = sq.encode(df, code_col="c")
    assert fields(sq_coded) == f + [field("c", T.BinaryType())]
    assert fields(sq.decode(sq_coded, code_col="c")) == fields(sq_coded) + [field("vec_dec", ARR)]
    # out_col == vec_col: the vector moves last
    assert fields(RandomRotation(8).apply(df)) == [f[0], f[2], field("vec", ARR)]
    assert fields(RandomRotation(8).apply(df, out_col="r")) == f + [field("r", ARR)]
    perms = np.stack([rng.permutation(16) for _ in range(2)])
    mid = coded.select("id", "code", "tag")
    remapped = remap_codes(mid, perms)
    assert remapped.schema == mid.schema
    for fn in (float_to_binary, lsh_sketch):
        assert fields(fn(df)) == f + [field("bits", T.BinaryType())]
    sh = SpectralHash(RandomRotation(8), np.zeros(8))
    assert sh.encode(df).schema == T.StructType(
        [field("id", T.LongType()), field("bits", T.BinaryType())]
    )
    res = _residual_df(assigned, cents)
    assert fields(res) == fields(assigned) + [field("rvec", ARR)]
    res_coded = pq.encode(res, vec_col="rvec")
    assert fields(_residual2_df(res_coded, pq)) == fields(res_coded) + [field("r2", ARR)]

    # values: the kernels' numpy results, row for row
    got = {r["id"]: (r["code"], r["tag"]) for r in remapped.collect()}
    base = pq.encode_np(x.astype(np.float64))
    for i in range(50):
        want = np.array([perms[m][base[i, m]] for m in range(2)], dtype=np.uint8)
        assert got[i] == (want.tobytes(), f"t{i}")
    dec = {r["id"]: r["vec_dec"] for r in sq.decode(sq_coded, code_col="c").collect()}
    want = sq.decode_np(sq.encode_np(x)).astype(np.float32)
    np.testing.assert_array_equal(np.array([dec[i] for i in range(50)], np.float32), want)
