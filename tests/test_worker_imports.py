"""Importing the engine stops ``importlib.invalidate_caches()`` from
re-reading unchanged zip archives (``auncel_spark/__init__.py``).

PySpark's worker calls ``invalidate_caches`` before every task; before
CPython 3.13 each ``zipimporter`` then re-reads its archive's whole
directory, and a reused worker holds ~16 of them over pyspark.zip."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import auncel_spark  # noqa: F401  (installs the wrapper)
from auncel_spark.operators.knn import knn_exact

pytestmark = pytest.mark.skipif(
    sys.implementation.name != "cpython" or sys.version_info >= (3, 13),
    reason="zipimport reads its directory lazily from CPython 3.13",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    """Record every ``_read_directory`` call on ``archive``."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive, {"zmod_a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zmod_a").VALUE == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    importlib.invalidate_caches()  # the first call records the archive

    calls = _count_reads(monkeypatch, archive)
    for _ in range(5):
        importlib.invalidate_caches()
    assert calls == []

    # a rewritten archive is re-read: its new module imports
    _write_zip(archive, {"zmod_a.py": "VALUE = 1\n", "zmod_b.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert len(calls) == 1
    assert importlib.import_module("zmod_b").VALUE == 2

    # an archive that cannot be stat'ed takes the original path
    os.remove(archive)
    importlib.invalidate_caches()
    assert len(calls) == 2
    assert sys.path_importer_cache.pop(archive)._files == {}


def test_workers_skip_zip_rereads(spark, base_df, query_df):
    """After an engine task, ``invalidate_caches`` in a Python worker
    re-reads no archive; without the wrapper each call re-reads every
    ``zipimporter`` the worker holds (16 over pyspark.zip here)."""
    assert knn_exact(query_df, base_df, 5).count() == 5 * query_df.count()

    def probe(_):
        import importlib
        import sys
        import zipimport

        import auncel_spark  # noqa: F401  (what every engine task imports)

        held = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        importlib.invalidate_caches()  # records any archive not yet seen
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield held, len(reads)

    out = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(out) == 4
    if not any(held for held, _ in out):
        pytest.skip("the Python workers hold no zipimporter")
    assert sum(reads for _, reads in out) == 0, out
