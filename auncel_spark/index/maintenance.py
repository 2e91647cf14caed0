"""Index maintenance: merge, subset copy, id remapping, reconstruction.

Reference (SURVEY.md §2.3 O18-O21):
- ``IndexIVF::merge_from`` / ``check_compatible_for_merge``
  (``Auncel/IndexIVF.h:270-290``): concatenate posting lists of two
  indexes trained on the same quantizer.
- ``copy_subset_to`` (``IndexIVF.h:280``): extract rows by id range or
  id % mod.
- ``IndexIDMap(2)`` (``Auncel/MetaIndexes.h:22-76``): translate result
  labels through an id map (+ reverse map for 2).
- ``remove_ids`` via ``IDSelectorRange``/``IDSelectorBatch``
  (``AuxIndexStructures.h:54-90``) — anti-joins.
- ``reconstruct(_n)`` (``Auncel/Index.h:164-190``): fetch stored
  vector by id (IVF needs a direct map; relationally it's just a join).
- ``IVFlib::SlidingIndexWindow`` (``Auncel/IVFlib.h:62-122``): rolling
  window of per-period invlist batches.

Each is a relational op on an index's ``data`` view — the ``(id, vec,
list_no)`` DataFrame read from its list store (index/list_store.py) —
and an index made from the result writes that frame into a new store.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auncel_spark.index.ivf import IVFIndex


def check_compatible_for_merge(a: IVFIndex, b: IVFIndex) -> None:
    if a.nlist != b.nlist or a.d != b.d or a.metric != b.metric:
        raise ValueError("incompatible indexes (nlist/d/metric differ)")
    if not np.allclose(a.centroids, b.centroids):
        raise ValueError("incompatible indexes (different quantizers)")


def merge_from(a: IVFIndex, b: IVFIndex) -> IVFIndex:
    """New index over the union of both posting-list tables (ids must
    be globally unique, as add_with_ids requires)."""
    check_compatible_for_merge(a, b)
    merged = a.data.unionByName(b.data)
    return IVFIndex(a.spark, a.centroids, None, a.metric, merged)


def copy_subset_to(
    idx: IVFIndex,
    id_min: int | None = None,
    id_max: int | None = None,
    mod: tuple[int, int] | None = None,
) -> IVFIndex:
    """Subset by id range [id_min, id_max) or by id % mod == r
    (``copy_subset_to`` subset types 0/1/2)."""
    d = idx.data
    if id_min is not None:
        d = d.filter(F.col("id") >= id_min)
    if id_max is not None:
        d = d.filter(F.col("id") < id_max)
    if mod is not None:
        m, r = mod
        d = d.filter(F.col("id") % m == r)
    return IVFIndex(idx.spark, idx.centroids, None, idx.metric, d)


def set_invlist_range(idx: IVFIndex, list_lo: int, list_hi: int) -> IVFIndex:
    """``IVFlib::set_invlist_range``: restrict the searchable index to
    posting lists [list_lo, list_hi): a filter on list_no, written into
    the new index's store."""
    d = idx.data.filter(
        (F.col("list_no") >= list_lo) & (F.col("list_no") < list_hi)
    )
    return IVFIndex(idx.spark, idx.centroids, None, idx.metric, d)


def remap_ids(result: DataFrame, id_map: DataFrame, id_col: str = "id") -> DataFrame:
    """IndexIDMap: translate internal ids to external labels via the
    (internal_id, external_id) mapping table (broadcast if small)."""
    m = id_map.select(
        F.col("internal_id").alias(id_col), F.col("external_id")
    )
    out = result.join(F.broadcast(m), id_col, "left")
    return out.drop(id_col).withColumnRenamed("external_id", id_col)


def reconstruct(idx: IVFIndex, ids: DataFrame, id_col: str = "id") -> DataFrame:
    """Fetch stored vectors for the given ids (reconstruct_n). For
    code-storing indexes, decode instead (handled by the caller via the
    codec's ``decode``)."""
    return idx.data.join(ids.select(F.col(id_col).alias("id")), "id", "left_semi")


class SlidingIndexWindow:
    """``SlidingIndexWindow.step`` semantics: a rolling window of the
    last W ingest batches; the searchable index is a store written from
    their union at each step. Evicting a batch drops its cached frame."""

    def __init__(self, base_index: IVFIndex, window: int):
        self.index = base_index
        self.window = window
        self.batches: list[DataFrame] = []

    def step(self, batch_df: DataFrame | None, remove_oldest: bool = False) -> IVFIndex:
        from auncel_spark.index.kmeans import assign_lists

        if batch_df is not None:
            assigned = assign_lists(
                batch_df.select("id", "vec"), self.index.centroids, self.index.metric
            ).select("id", "vec", "list_no")
            self.batches.append(assigned.cache())
        if remove_oldest and self.batches:
            old = self.batches.pop(0)
            old.unpersist()
        while len(self.batches) > self.window:
            self.batches.pop(0).unpersist()
        if not self.batches:
            raise ValueError("window is empty")
        data = self.batches[0]
        for b in self.batches[1:]:
            data = data.unionByName(b)
        return IVFIndex(
            self.index.spark, self.index.centroids, None, self.index.metric, data
        )
