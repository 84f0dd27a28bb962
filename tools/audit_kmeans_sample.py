"""n-axis probe of sampled-centroid k-means (round 11, VERDICT r10
missing #1): at n=2M x k=20k, compare full-corpus Lloyd training vs
content-addressed-sample training + one full-corpus GEMM assignment.

One invocation per mode (same-session A/Bs are contaminated —
BASELINE.md round-8 note); warm pass at small n first. Quiet box
(1-min load < ~3) before timing; t0 starts BEFORE the build call
(build_ivf_index does eager work inside).

Usage: python tools/audit_kmeans_sample.py full|sampled [k] [iters] [data]
Data:  benchdata/sf100d (tools/make_diverse_embeddings.py 1000 sf100d);
       round 12 n-axis decade: benchdata/sf1000d (10000 reps -> n=20M)
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark.operators.ivf import build_ivf_index  # noqa: E402

SMOKE = "/root/testdata/sf0.1/embeddings.parquet"


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "sampled"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    data = sys.argv[4] if len(sys.argv) > 4 else "sf100d"
    DATA = os.path.join(ROOT, "benchdata", data, "embeddings.parquet")
    sample = 200_000 if mode == "sampled" else None

    spark = get_spark(app_name=f"audit_kmeans_{mode}")
    spark.sparkContext.setLogLevel("ERROR")

    print(f"== warm pass (k=256, small n)", flush=True)
    warm = spark.read.parquet(SMOKE)
    build_ivf_index(warm, k=256, iters=1)[0].count()

    emb = spark.read.parquet(DATA)
    n = emb.count()
    print(f"== {mode}: n={n} k={k} iters={iters} sample={sample}",
          flush=True)
    t0 = time.time()
    assigned, cents = build_ivf_index(emb, k=k, iters=iters,
                                      train_sample=sample)
    build_s = time.time() - t0
    t0 = time.time()
    nonempty = assigned.select("cluster").distinct().count()
    probe_s = time.time() - t0
    print(f"== {mode}: build {build_s:.1f}s, {nonempty} non-empty "
          f"clusters of {len(cents)} (distinct-count pass {probe_s:.1f}s)",
          flush=True)


if __name__ == "__main__":
    main()
