"""auncel_spark — a PySpark-native error-bounded vector analytics engine.

A from-scratch re-expression of the capabilities of pkusys/Auncel
(NSDI'23 "Fast, Approximate Vector Queries on Very Large Unstructured
Datasets") on top of the Spark DataFrame/SQL engine:

- exact k-NN / range search over L2 and inner-product metrics,
- IVF (inverted-file) indexes whose lists live in one list-ordered,
  memmapped file set per index (``index/list_store.py``, the
  reference's ``OnDiskInvertedLists``): list scans, the exact refine and
  the ``data`` view all read it,
- PQ / SQ compression with ADC scanning in Arrow-vectorized kernels,
- Auncel's error-profile system (phi–U traces + geometric recall
  prediction) expressed as a driver-staged iterative DataFrame job,
- LLM-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash),
  similarity search, text analysis, multimodal column plumbing.

Design rule (SURVEY.md §4): the relational shell stays pure DataFrame so
Catalyst does pruning/pushdown/AQE; numeric kernels run inside tasks —
the scan kernels in ``mapInArrow`` tasks that memmap the list store,
every encoder, transform and list assignment of a build in one
``mapInArrow`` row-map (``functions/vector.py`` ``map_rows``), k-means
on the driver over one Arrow-collected sample. Scans never bring the
base to the driver: only small state (centroids, codebooks, traces —
MBs) crosses to the driver or a broadcast, plus the exact refine's nq ×
pool candidate vectors, which ``ListStore.refine_topk`` reads there by
positioned reads.
"""

import os as _os

# Must precede the first numpy import in the process: numpy madvises
# MADV_HUGEPAGE on >=4 MB buffers and under THP defrag=[madvise] every
# 2 MB first-touch fault runs synchronous compaction (measured 0.3-0.4
# vs 6-15 GB/s — an ~8x tax on fresh kernel temporaries; details in
# session.py). Harmless no-op where numpy is already imported or THP
# is configured differently.
_os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")


def _keep_unchanged_zip_directories() -> None:
    """PySpark's worker calls ``importlib.invalidate_caches()`` before
    every task, and before 3.13 each ``zipimporter`` then re-reads its
    whole archive directory. A reused worker holds ~16 of them over
    pyspark.zip (1,328 entries), and a cProfile of ten tasks in one
    worker put 8 of its 9.7 s in those re-reads.
    Re-read an archive only when its (mtime, size, inode) changed since
    its last read; a failed ``stat`` takes the original path, so a
    changed, re-shipped or removed archive is still re-read."""
    import sys
    import zipimport

    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    read_as: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
        except OSError:
            read_as.pop(self.archive, None)
            return original(self)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_as.get(self.archive) == sig:
            self._files = files
            return
        original(self)
        read_as[self.archive] = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_keep_unchanged_zip_directories()

from auncel_spark.config import Metric

__all__ = ["Metric"]
__version__ = "0.1.0"
