"""Round-11 IVFPQ layout probe (VERDICT r10 next-step #7): round 10
measured the bucketed directory layout on the IVF vector index only;
this runs the same A/B through ``write_ivfpq_index(partition_buckets)``
— PQ codes partitioned per coarse cluster vs cluster%buckets with the
per-file cluster sort — and asserts the two layouts probe bit-equally.

Usage: python tools/audit_ivfpq_layout.py [k] [buckets] [sf1|sf10|sf10d]
           [per-cluster|bucketed|both]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark.operators.pq import (  # noqa: E402
    ivfpq_topk_from_index, write_ivfpq_index)
from rel_db_to_graph_spark.sources.catalog import load_table  # noqa: E402

DIRS = {"sf1": os.path.join(ROOT, "benchdata", "sf1"),
        "sf10": os.path.join(ROOT, "benchdata", "sf10"),
        "sf10d": os.path.join(ROOT, "benchdata", "sf10d")}


def fs_stats(root: str) -> tuple[int, int]:
    ndirs = nfiles = 0
    for _, ds, fs in os.walk(root):
        ndirs += len(ds)
        nfiles += sum(1 for f in fs if f.endswith(".parquet"))
    return ndirs, nfiles


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 512
    sf = sys.argv[3] if len(sys.argv) > 3 else "sf10"
    which = sys.argv[4] if len(sys.argv) > 4 else "both"
    spark = get_spark(app_name="audit_ivfpq_layout")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, DIRS[sf], "embeddings")
    qv = [float(x) for x in
          emb.filter("vec_id = 0").collect()[0]["embedding"]]
    base = "/tmp/ivfpq_layout_audit"
    shutil.rmtree(base, ignore_errors=True)

    results = {}
    layouts = [("per-cluster", None), ("bucketed", buckets)]
    if which != "both":
        layouts = [(t, nb) for t, nb in layouts if t == which]
    for tag, nb in layouts:
        path = f"{base}/{tag}"
        t0 = time.time()
        write_ivfpq_index(emb, path, n_clusters=k, m=4, n_codes=8,
                          iters=2, partition_buckets=nb)
        w = time.time() - t0
        ndirs, nfiles = fs_stats(f"{path}/codes")
        t0 = time.time()
        rows = [(r.vec_id, r.adist) for r in
                ivfpq_topk_from_index(spark, path, qv, k=10,
                                      nprobe=8).collect()]
        p = time.time() - t0
        results[tag] = rows
        print(f"{tag:12s} k={k}: write {w:6.1f}s  dirs {ndirs:6d}  "
              f"files {nfiles:6d}  probe {p:5.1f}s", flush=True)
    if len(results) == 2:
        print("probe results equal: "
              f"{results['per-cluster'] == results['bucketed']}",
              flush=True)
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
