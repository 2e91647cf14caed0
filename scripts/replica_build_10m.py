"""One-off: non-destructive SQ8 replica + refine sidecar at the 10M tier.

delete_source=False keeps flat lists/ the default scan source; a
caller opts the replica in with ``IVFIndex.use_replica(True)``.
"""
import os, sys, time, json
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
sys.path.insert(0, "/root/repo"); sys.path.insert(0, "/root/repo/scripts")
from auncel_spark.session import get_spark
import scale_bench as sb
from auncel_spark.index.ivf import IVFIndex

spark = get_spark("replica_build_10m")
cache = sb._cache_dir(10_000_000)
idx = IVFIndex.load(spark, str(cache / "ivf"))
t0 = time.perf_counter()
if idx._replica_sq is None:
    rep = idx.build_scan_replica()
    print("replica:", json.dumps(rep), flush=True)
else:
    print("replica already present", flush=True)
if not os.path.exists(os.path.join(idx.data_path, "refine", "meta.json")):
    sc = idx.build_refine_sidecar(delete_source=False)
    print("sidecar:", json.dumps(sc), flush=True)
else:
    print("sidecar already present", flush=True)
print(json.dumps({"total_sec": round(time.perf_counter() - t0, 1)}), flush=True)
