"""Checkpoint-cadence experiment for the BSP loops (r12 verdict item 6):
times q_pagerank's exact edge set through pagerank(n_iter=5) at
checkpoint_every = 2 / 3 / 5, interleaved reps, with per-run job counts
(statusTracker) and a value-identity assert across cadences (the
arithmetic is exact decimal, so any cadence must give bit-identical
ranks — this pins it).

Usage: SPARK_GRAFT_CADENCE_REPS=4 python tools/pagerank_cadence.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark.operators.pagerank import pagerank  # noqa: E402
from rel_db_to_graph_spark.sources.catalog import load_table  # noqa: E402


def edges_of(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") * 4).alias("src"),
        (F.col("o_custkey") * 4 + 1).alias("dst"))
    c = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") * 4 + 1).alias("src"),
        (F.col("c_nationkey") * 4 + 2).alias("dst"))
    return o.unionByName(c)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_CADENCE_REPS", "4"))
    cadences = (2, 3, 5)
    spark = get_spark(app_name="pr_cadence")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.range(1000).count()
    # warm codegen at the smoke SF
    pagerank(edges_of(spark, "/root/testdata/sf0.001"), n_iter=5).count()

    # value identity across cadences (exact decimal arithmetic)
    ref = None
    for c in cadences:
        got = sorted(map(tuple, pagerank(
            edges_of(spark, sf_dir), n_iter=5,
            checkpoint_every=c).collect()))
        if ref is None:
            ref = got
        assert got == ref, f"cadence {c} drifted!"
    print(f"value identity across cadences {cadences}: OK "
          f"({len(ref)} rows)")

    times: dict[int, list[float]] = {c: [] for c in cadences}
    jobs: dict[int, int] = {}
    for r in range(reps):
        for c in cadences:           # interleaved: cadence outruns drift
            group = f"pr:c{c}:r{r}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            pagerank(edges_of(spark, sf_dir), n_iter=5,
                     checkpoint_every=c).count()
            times[c].append(time.perf_counter() - t0)
            if c not in jobs:
                jobs[c] = len(tracker.getJobIdsForGroup(group))
    for c in cadences:
        ts = [round(t, 3) for t in times[c]]
        print(f"cadence={c}: jobs={jobs[c]} "
              f"median={statistics.median(ts):.3f}s all={ts}")


if __name__ == "__main__":
    main()
