"""Round-10 written-index layout probe: per-cluster Hive directories
vs the bucketed layout (write_ivf_index ``partition_buckets``) at a
web-scale-ish k.

One directory per cluster is the right layout at moderate k (directory
pruning IS the probe's win, plan-pinned), but at k≈20k+ the write
fans out k directories (listing/metastore cost grows with k, and each
task writes a file per cluster it holds — a small-files storm). The
bucketed layout keeps two pruning tiers (directory on cluster%buckets,
row-group on the exact cluster IN (...) via the per-file cluster sort)
with a k-independent directory count.

Measures, for the sf10 embeddings (200k vectors) at a given k:
  * index write seconds + resulting file/directory counts, both layouts
  * probe seconds (cold session per layout would be ideal; one session
    is accepted here — the read paths share nothing but the parquet)
  * probe result equality between the layouts

Usage: python tools/audit_index_layout.py [k] [buckets] [sf1|sf10|sf10d]
           [per-cluster|bucketed|both]

(the 4th arg limits which layouts run — at k≈100k the per-cluster
write is itself the pathology under discussion and can be skipped)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark.operators.ivf import (  # noqa: E402
    ivf_topk_from_index, write_ivf_index)
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
    spark = get_spark(app_name="audit_index_layout")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, DIRS[sf], "embeddings")
    base = "/tmp/ivf_layout_audit"
    shutil.rmtree(base, ignore_errors=True)

    results = {}
    layouts = [("per-cluster", None), ("bucketed", buckets)]
    if which != "both":
        layouts = [(t, nb) for t, nb in layouts if t == which]
    for tag, nb in layouts:
        path = f"{base}/{tag}"
        t0 = time.time()
        write_ivf_index(emb, path, k=k, iters=2, partition_buckets=nb)
        w = time.time() - t0
        ndirs, nfiles = fs_stats(f"{path}/vectors")
        t0 = time.time()
        rows = [(r.vec_id, r.score) for r in
                ivf_topk_from_index(spark, path, query_id=0, k=10,
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
