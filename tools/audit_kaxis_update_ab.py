"""A/B the large-k Lloyd-update paths on DIVERSE data (round 10).

BASELINE.md addendum 4's attribution note: on the replica-built sf10
embeddings at most ~2,000 clusters are non-empty, so the row-form
update's k·d-row collect was never actually k·d there. This audit
isolates the update path on the diverse table
(tools/make_diverse_embeddings.py — ~k populated clusters): same code
everywhere except `_lloyd_update_compact`, which the ``rowform`` mode
monkeypatches back to the (cluster, pos, mean)-row collect + Python
rebuild the compact form replaced. The chunked assignment GEMM runs in
BOTH modes, so the delta is the driver-traffic shape alone.

Run each mode in its OWN invocation (same-session A/Bs are
contaminated; BASELINE.md round-8 note):

    python tools/audit_kaxis_update_ab.py compact sf10d 20000
    python tools/audit_kaxis_update_ab.py rowform sf10d 20000
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark.operators import ivf  # noqa: E402
from rel_db_to_graph_spark.operators.semantic import semantic_dedup  # noqa: E402
from rel_db_to_graph_spark.sources.catalog import load_table  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402


def _row_form_update(assigned, M):
    """The pre-round-10 update shape: k·d scalar rows collected, Python
    dict rebuild. Kept ONLY in this audit as the A/B baseline."""
    import numpy as np
    agg = (assigned.select("cluster", F.posexplode("_v").alias("pos", "x"))
           .groupBy("cluster", "pos").agg(F.avg("x").alias("m"))
           .collect())
    out = np.array(M, dtype="float64", copy=True)
    for r in agg:
        out[r.cluster][r.pos] = r.m
    return out


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "compact"
    sf = sys.argv[2] if len(sys.argv) > 2 else "sf10d"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 20000
    if mode == "rowform":
        ivf._lloyd_update_compact = _row_form_update
    spark = get_spark(app_name="audit_kaxis_update_ab")
    spark.sparkContext.setLogLevel("ERROR")
    # warm codegen/Arrow on the tiny table
    emb_w = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    semantic_dedup(emb_w, threshold=0.2, n_clusters=8, iters=2,
                   max_cluster=2000).write.format("noop") \
        .mode("overwrite").save()
    emb = load_table(spark, os.path.join(ROOT, "benchdata", sf), "embeddings")
    t0 = time.time()
    flags = semantic_dedup(emb, threshold=0.2, n_clusters=k, iters=2,
                           max_cluster=2000)
    n_kept = flags.filter(F.col("kept")).count()
    t = time.time() - t0
    n_clusters = flags.select("cluster").distinct().count()
    print(f"update={mode} @{sf} k={k}: {t:.1f}s  kept={n_kept}  "
          f"populated_clusters={n_clusters}", flush=True)


if __name__ == "__main__":
    main()
