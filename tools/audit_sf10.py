"""sf10 probe of the superlinear tail (VERDICT r7 next item 3): the five
queries whose sf0.1→sf1 ratios exceeded 5x have plan-shape arguments for
100x but had never been OBSERVED past 10x. Run each once at sf1 and at
sf10 (tools/make_sf1.py 100 sf10 derives the dataset: ~60M lineitem,
500k documents), print wall-clock + the ratio + the join/exchange
markers of the sf10 plan, so BASELINE.md records a measurement instead
of an argument. Completion + plan survival is the point, not
benchmarking precision (same stance as the sf1 audits).

Usage: SPARK_GRAFT_DRIVER_MEM=48g python tools/audit_sf10.py [names...]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark import queries as Q  # noqa: E402

TAIL = ["term_cms", "tfidf_keywords", "near_dup_pairs",
        "curation_pipeline", "triangle_count"]

SF1 = os.path.join(ROOT, "benchdata", "sf1")
SF10 = os.path.join(ROOT, "benchdata", "sf10")

#: plan markers worth recording: the scale-killers (should stay absent)
#: and the join strategies actually chosen at sf10
MARKERS = ["CartesianProduct", "BroadcastNestedLoopJoin",
           "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"]


def main() -> None:
    spark = get_spark(app_name="audit_sf10")
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[1:] or TAIL
    fns = {n: getattr(Q, f"q_{n}") for n in names}
    for n, fn in fns.items():           # warm codegen at smoke SF
        fn(spark, "/root/testdata/sf0.001").write.format("noop") \
            .mode("overwrite").save()
    for n, fn in fns.items():
        ts = {}
        for tag, d in (("sf1", SF1), ("sf10", SF10)):
            Q.clear_caches()
            t0 = time.time()
            df = fn(spark, d)
            # materialize THROUGH df's own QueryExecution (toRdd shares
            # the AdaptiveSparkPlanExec), so the captured plan below is
            # the FINAL AQE plan of the very execution that ran —
            # a .write action plans a separate execution and with AQE
            # can leave df's plan at isFinalPlan=false (ADVICE r8)
            df._jdf.queryExecution().toRdd().count()
            ts[tag] = time.time() - t0
            if tag == "sf10":
                plan = df._jdf.queryExecution().executedPlan().toString()
                marks = {m: plan.count(m) for m in MARKERS if m in plan}
            print(f"  {n} @{tag}: {ts[tag]:.1f}s", flush=True)
        print(f"{n}: sf1={ts['sf1']:.1f}s sf10={ts['sf10']:.1f}s "
              f"ratio={ts['sf10'] / max(ts['sf1'], 0.01):.1f}x "
              f"plan={marks}", flush=True)


if __name__ == "__main__":
    main()
