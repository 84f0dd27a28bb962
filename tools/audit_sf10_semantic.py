"""sf10 semantic_dedup completion probe (VERDICT r8 item 1): the one
headline operator without a clean sf10 number. Round 8's adaptive 2-D
grid fixed the DISTRIBUTION of megacluster pair work but the scalar
per-pair cosine (~1-2M pairs/s/core) left the bounded-mode run
unfinished inside the round window; round 9's Arrow GEMM cell kernel
is the throughput fix this probe measures.

Runs semantic_dedup at sf10 in BOUNDED production mode
(max_cluster=2000) twice — GEMM routing on (production 1M-pair cut)
and, optionally, scalar-only (gemm_min_pairs huge) for the A/B — in a
fresh session each invocation (same-session A/Bs are contaminated;
BASELINE.md round-8 note). Also re-checks survivor-set equality
between the two kernels at sf1.

Usage: SPARK_GRAFT_DRIVER_MEM=48g python tools/audit_sf10_semantic.py
           [gemm|scalar|both] [sf1|sf10]

Round 10 adds a ``kaxis`` mode probing the n_clusters axis (the
module's advertised web-scale recipe is k≈100k): each listed k runs
semantic_dedup bounded (max_cluster=2000, iters=2) end to end —
k-means build + pair pruning — and prints its wall time. This is the
probe behind BASELINE.md's k-axis table (k=2000/20000 round 10, and
k=100000 after the compact Lloyd update + chunked assignment GEMM).

Usage: python tools/audit_sf10_semantic.py kaxis [sf1|sf10] [k ...]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark.operators.semantic import semantic_dedup  # noqa: E402
from rel_db_to_graph_spark.sources.catalog import load_table  # noqa: E402

DIRS = {"sf1": os.path.join(ROOT, "benchdata", "sf1"),
        "sf10": os.path.join(ROOT, "benchdata", "sf10"),
        "warm": "/root/testdata/sf0.001"}


def run(spark, sf_dir: str, gemm_min_pairs: int) -> float:
    emb = load_table(spark, sf_dir, "embeddings")
    flags = semantic_dedup(emb, threshold=0.2, n_clusters=8, iters=3,
                           max_cluster=2000, gemm_min_pairs=gemm_min_pairs)
    t0 = time.time()
    flags.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def run_kaxis(spark, sf_dir: str, k: int) -> float:
    emb = load_table(spark, sf_dir, "embeddings")
    # t0 BEFORE the call: at large k the k-means build (eager
    # checkpoints + Lloyd collects inside semantic_dedup) IS the cost
    # under test — run()'s after-the-call t0 would time only the lazy
    # pair stage
    t0 = time.time()
    flags = semantic_dedup(emb, threshold=0.2, n_clusters=k, iters=2,
                           max_cluster=2000)
    flags.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "gemm"
    sf = sys.argv[2] if len(sys.argv) > 2 else "sf10"
    spark = get_spark(app_name="audit_sf10_semantic")
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "kaxis":
        ks = [int(x) for x in sys.argv[3:]] or [2000, 20000]
        run(spark, DIRS["warm"], gemm_min_pairs=1)   # warm codegen/Arrow
        for k in ks:
            t = run_kaxis(spark, DIRS[sf], k=k)
            print(f"semantic_dedup bounded @{sf} k={k}: {t:.1f}s",
                  flush=True)
        return
    run(spark, DIRS["warm"], gemm_min_pairs=1)       # warm codegen/Arrow
    cuts = {"gemm": [1_000_000], "scalar": [10**15],
            "both": [1_000_000, 10**15]}[mode]
    for cut in cuts:
        t = run(spark, DIRS[sf], gemm_min_pairs=cut)
        tag = "gemm" if cut < 10**12 else "scalar"
        print(f"semantic_dedup bounded @{sf} [{tag}]: {t:.1f}s",
              flush=True)


if __name__ == "__main__":
    main()
