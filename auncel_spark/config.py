"""Engine-wide constants and enums.

Mirrors the reference's metric enum (``Auncel/Index.h:49-52``:
METRIC_INNER_PRODUCT=0, METRIC_L2=1). Cosine similarity is inner
product over L2-normalized vectors, as in Faiss.
"""

from __future__ import annotations

import enum


class Metric(enum.Enum):
    """Distance metric. L2 compares by squared Euclidean distance
    (smaller is closer); IP compares by inner product (larger is
    closer). Internally every operator works with an ascending
    ``dist`` column: for IP we negate the dot product so that a single
    ``ORDER BY dist, id`` tie-break rule (cf. ``Auncel/utils.h:320-321``
    ``ranklist_handle_ties``) serves both metrics.
    """

    L2 = "l2"
    IP = "ip"
    COSINE = "cosine"


# Default number of inverted lists, matching the reference's flagship
# config "IVF1024,Flat" (Auncel/eval/bound.cpp:220).
DEFAULT_NLIST = 1024

# The reference's adaptive search never probes more than nlist/8 lists
# (Auncel/IndexIVF.cpp:621). Kept as the default stage cap.
ELP_STAGE_CAP_FRACTION = 8

# Sort-and-batch batch size for error-profile traces
# (Auncel/IVF_pro.h:54: bs = 250).
TRACE_BATCH_SIZE = 250

# Online bounded search fuses the stages with nprobe <= this value into
# one bucketed scan job (the reference's cheap sequential early stages,
# IndexIVF.cpp:526-536). Over-scan for a query that would stop at stage
# 1 is bounded by ELP_FUSE_PREFIX - its stop stage lists — small next to
# the nlist/8 cap — in exchange for log2(prefix) fewer Spark jobs.
ELP_FUSE_PREFIX = 8
