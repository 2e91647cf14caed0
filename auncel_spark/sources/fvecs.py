"""fvecs / ivecs / fbin / ibin readers and writers.

Reference (SURVEY.md §2.1 S1-S3):
- ``fvecs_read`` (``Auncel/eval/bound.cpp:29-63``): per-row
  ``[int32 d][d × float32]`` records.
- ``fbin_read`` (``Auncel/eval/bound.cpp:65-114``): header
  ``[int32 n][int32 d]`` then n·d values; the int8 variant casts up to
  float (``bound.cpp:81-91``).
- writers: ``fvecs_write``/``ivecs_write`` (``Auncel/dist/reduce.cpp:66-96``).
- giant-file splitting: ``Auncel/dist/split.cpp:60-145`` splits a
  1B-vector file into per-worker slices; here the reader itself plans
  byte-range chunks so a single multi-GB file becomes many Spark tasks.

Spark shape: file listing comes from the ``binaryFile`` source with the
``content`` column pruned away (a pure metadata scan), the driver reads
only each file's tiny header to learn the record size, and a chunk plan
(path, byte offset, record count) is distributed; each task seeks into
its byte range. Record sizes are fixed per file, so chunk boundaries are
exact. For 100 TB, convert once to Parquet (these formats carry no
column statistics); the reader exists for ingest parity, the writers for
result interchange with reference tooling.
"""

from __future__ import annotations

import hashlib
import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def _file_id_base(path: str) -> int:
    """Stable per-file id base.

    md5 (not builtin ``hash``, which is salted per process via
    PYTHONHASHSEED and would assign different ids on task retry /
    recomputation): 2^20 distinct file slots, each with room for 2^40
    sequential row ids.
    """
    return (int(hashlib.md5(path.encode()).hexdigest()[:8], 16) % (1 << 20)) << 40


def _strip_scheme(path: str) -> str:
    if path.startswith("file:"):
        p = path[len("file:"):]
        # file:///x and file:/x both mean /x
        while p.startswith("//"):
            p = p[1:]
        return p
    return path


def _open(path: str):
    """Open a file for random-access reads; local paths directly,
    anything with a scheme through pyarrow's filesystem layer."""
    if "://" in path and not path.startswith("file:"):
        import pyarrow.fs as pafs

        fs, p = pafs.FileSystem.from_uri(path)
        return fs.open_input_file(p)
    return open(_strip_scheme(path), "rb")


def _list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, size) for every file under ``path`` — a binaryFile scan
    with content pruned, i.e. listing only."""
    rows = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "length")
        .collect()
    )
    return [(r["path"], int(r["length"])) for r in rows]


def _parse_fvecs(buf: bytes, dtype: np.dtype, d: int | None = None) -> np.ndarray:
    if len(buf) == 0:
        return np.empty((0, 0))
    if d is None:
        d = struct.unpack("<i", buf[:4])[0]
    if d <= 0:
        raise ValueError(f"fvecs: invalid leading dimension {d}")
    rec = 4 + d * 4
    if len(buf) % rec != 0:
        raise ValueError(
            f"fvecs: {len(buf)} bytes is not a multiple of record size {rec} "
            f"(d={d}) — truncated or mixed-dimension file"
        )
    n = len(buf) // rec
    arr = np.frombuffer(buf, dtype=np.uint8).reshape(n, rec)
    dims = arr[:, :4].copy().view(np.int32).ravel()
    if not (dims == d).all():
        raise ValueError("fvecs: per-record dimension fields disagree")
    body = arr[:, 4:].copy().view(dtype)
    return body.reshape(n, d)


def _plan_chunks(
    spark: SparkSession, path: str, fmt: str, dtype: np.dtype, chunk_bytes: int
) -> pd.DataFrame:
    """Byte-range chunk plan: one row per (file, record range).

    Replaces Auncel/dist/split.cpp's offline file splitter — a single
    multi-GB fvecs/fbin file becomes ceil(size/chunk_bytes) independent
    tasks instead of one.
    """
    rows = []
    for p, size in _list_files(spark, path):
        with _open(p) as f:
            head = f.read(8)
        if fmt == "fvecs":
            d = struct.unpack("<i", head[:4])[0]
            rec = 4 + d * 4
            data_off, body = 0, size
        else:  # fbin
            n, d = struct.unpack("<ii", head)
            rec = d * dtype.itemsize
            data_off, body = 8, size - 8
            if n < 0 or d <= 0 or body != n * rec:
                raise ValueError(
                    f"fbin: {p} header says n={n} d={d} ({n * rec} body "
                    f"bytes) but the body is {body} bytes"
                )
        if d <= 0 or body % rec != 0:
            raise ValueError(f"{fmt}: {p} is truncated or has invalid d={d}")
        n = body // rec
        per = max(1, chunk_bytes // rec)
        base = _file_id_base(p)
        for start in range(0, n, per):
            cnt = min(per, n - start)
            rows.append(
                (p, d, data_off + start * rec, cnt * rec, base + start, cnt)
            )
    return pd.DataFrame(
        rows, columns=["path", "d", "offset", "nbytes", "id_start", "n_rec"]
    )


def _read_records(
    spark: SparkSession,
    path: str,
    fmt: str,
    dtype: np.dtype,
    vec_type: str,
    chunk_bytes: int,
) -> DataFrame:
    plan = _plan_chunks(spark, path, fmt, dtype, chunk_bytes)
    if plan.empty:
        return spark.createDataFrame([], f"id bigint, vec array<{vec_type}>")
    chunks = spark.createDataFrame(plan).repartition(len(plan))

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                with _open(row.path) as f:
                    f.seek(int(row.offset))
                    buf = f.read(int(row.nbytes))
                if fmt == "fvecs":
                    mat = _parse_fvecs(buf, np.dtype(dtype), d=int(row.d))
                else:
                    mat = np.frombuffer(buf, dtype=dtype).reshape(
                        int(row.n_rec), int(row.d)
                    )
                    if np.dtype(dtype) == np.int8:
                        mat = mat.astype(np.float32)
                ids = int(row.id_start) + np.arange(mat.shape[0], dtype=np.int64)
                yield pd.DataFrame({"id": ids, "vec": list(mat)})

    return chunks.mapInPandas(work, schema=f"id bigint, vec array<{vec_type}>")


def read_fvecs(
    spark: SparkSession, path: str, chunk_bytes: int = 64 << 20
) -> DataFrame:
    return _read_records(spark, path, "fvecs", np.float32, "float", chunk_bytes)


def read_ivecs(
    spark: SparkSession, path: str, chunk_bytes: int = 64 << 20
) -> DataFrame:
    return _read_records(spark, path, "fvecs", np.int32, "int", chunk_bytes)


def read_fbin(
    spark: SparkSession,
    path: str,
    dtype: str = "float32",
    chunk_bytes: int = 64 << 20,
) -> DataFrame:
    return _read_records(
        spark, path, "fbin", np.dtype(dtype), "float", chunk_bytes
    )


def write_fvecs(df: DataFrame, path: str, vec_col: str = "vec") -> None:
    """Single-file driver-side writer — for small interchange matrices
    only (nq×k results). Bulk exports go through ``write_fvecs_dist``,
    which writes part-files from the executors without a driver
    collect."""
    rows = df.select(vec_col).collect()
    with open(path, "wb") as f:
        for r in rows:
            v = np.asarray(r[vec_col], dtype=np.float32)
            f.write(struct.pack("<i", len(v)))
            f.write(v.tobytes())


def write_ivecs(df: DataFrame, path: str, vec_col: str = "vec") -> None:
    rows = df.select(vec_col).collect()
    with open(path, "wb") as f:
        for r in rows:
            v = np.asarray(r[vec_col], dtype=np.int32)
            f.write(struct.pack("<i", len(v)))
            f.write(v.tobytes())


def _write_parts(
    df: DataFrame, dir_path: str, vec_col: str, np_dtype, ext: str
) -> list[tuple[str, int]]:
    """Executor-side part-file writer (Auncel/dist/reduce.cpp:66-96
    semantics, distributed): every partition streams its rows into
    ``<dir>/part-<pid>.<ext>`` with no driver collect. The directory
    must be reachable from the executors (shared FS); for object stores
    use Parquet instead."""
    os.makedirs(_strip_scheme(dir_path), exist_ok=True)
    dtype = np.dtype(np_dtype)

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        out = os.path.join(_strip_scheme(dir_path), f"part-{pid:05d}.{ext}")
        n = 0
        with open(out, "wb") as f:
            for pdf in batches:
                for v in pdf[vec_col]:
                    a = np.asarray(v, dtype=dtype)
                    f.write(struct.pack("<i", len(a)))
                    f.write(a.tobytes())
                    n += 1
        if n == 0:
            os.unlink(out)
            return
        yield pd.DataFrame({"path": [out], "n_rows": [n]})

    parts = df.select(vec_col).mapInPandas(work, "path string, n_rows bigint")
    return [(r["path"], r["n_rows"]) for r in parts.collect()]


def write_fvecs_dist(
    df: DataFrame, dir_path: str, vec_col: str = "vec"
) -> list[tuple[str, int]]:
    """Distributed fvecs export: returns [(part_path, n_rows), ...]."""
    return _write_parts(df, dir_path, vec_col, np.float32, "fvecs")
