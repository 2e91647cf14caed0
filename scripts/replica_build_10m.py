"""One-off: add the SQ8 scan replica to the 10M tier's IVF index.

Building the replica is the opt-in: from then on the index, and every
later ``IVFIndex.load`` of it, scans codes and re-ranks exactly against
the store's ``vec`` column. Run from the repo root:
``python scripts/replica_build_10m.py``.
"""
import json
import os
import sys
import time

os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
_here = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_here))
sys.path.insert(0, _here)
from auncel_spark.session import get_spark  # noqa: E402
import scale_bench as sb  # noqa: E402
from auncel_spark.index.ivf import IVFIndex  # noqa: E402

spark = get_spark("replica_build_10m")
cache = sb._cache_dir(10_000_000)
idx = IVFIndex.load(spark, str(cache / "ivf"))
t0 = time.perf_counter()
if not idx.codec_active:
    rep = idx.build_scan_replica()
    print("replica:", json.dumps(rep), flush=True)
else:
    print("replica already present", flush=True)
print(json.dumps({"total_sec": round(time.perf_counter() - t0, 1)}), flush=True)
