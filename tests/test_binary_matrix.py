"""Arrow-buffer code-column decoding (index/scan.py _binary_matrix):
the (n, M) uint8 matrix must match the per-row frombuffer path for
every Arrow binary layout the scan can receive, including sliced
arrays (non-zero Arrow offset, as produced by RecordBatch slicing)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from auncel_spark.functions.vector import _binary_matrix


def _ref(rows):
    return np.stack([np.frombuffer(b, dtype=np.uint8) for b in rows])


def _payload(n=37, w=8, seed=3):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, w, dtype=np.uint8).tobytes() for _ in range(n)]


def test_binary_array():
    rows = _payload()
    arr = pa.array(rows, type=pa.binary())
    np.testing.assert_array_equal(_binary_matrix(arr), _ref(rows))


def test_large_binary_array():
    rows = _payload()
    arr = pa.array(rows, type=pa.large_binary())
    np.testing.assert_array_equal(_binary_matrix(arr), _ref(rows))


def test_fixed_size_binary_array():
    rows = _payload(w=16)
    arr = pa.array(rows, type=pa.binary(16))
    np.testing.assert_array_equal(_binary_matrix(arr), _ref(rows))


def test_sliced_arrays_respect_offset():
    rows = _payload(n=50, w=12)
    for typ in (pa.binary(), pa.large_binary(), pa.binary(12)):
        arr = pa.array(rows, type=typ).slice(7, 31)
        np.testing.assert_array_equal(_binary_matrix(arr), _ref(rows[7:38]))


def test_ragged_fallback():
    rows = [b"abc", b"defg", b"h"]
    arr = pa.array(rows, type=pa.binary())
    got = _binary_matrix(pa.array([b"ab", b"cd"], type=pa.binary()))
    np.testing.assert_array_equal(got, _ref([b"ab", b"cd"]))
    # ragged widths fall back to the per-row path (np.stack raises on
    # ragged, matching the old behavior — codes are never ragged)
    import pytest

    with pytest.raises(ValueError):
        _binary_matrix(arr)
