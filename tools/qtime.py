"""Single-query bench-methodology timer: median of N reps at
$SPARK_GRAFT_SF_DIR (default sf0.1) with the same forcers bench.py
uses and an untimed warm pass at sf0.001 first. For isolating one
query's before/after without paying a full bench run (guide §1).

Usage: python tools/qtime.py name [name ...]   (bench HEADLINE names use
       their bench forcer; any other ``q_<name>`` query is collected)
       SPARK_GRAFT_QTIME_REPS=5 python tools/qtime.py pagerank
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402  (reuses HEADLINE)
from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark import queries as Q  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.001"
    reps = int(os.environ.get("SPARK_GRAFT_QTIME_REPS", "3"))
    spark = get_spark(app_name="qtime")
    spark.sparkContext.setLogLevel("ERROR")

    spark.range(1000).count()
    out = {}
    for name in names:
        fn = bench.HEADLINE.get(name) or (
            lambda s, d, q=getattr(Q, f"q_{name}"): q(s, d).collect())
        fn(spark, warm_dir)          # untimed warm (codegen/JIT)
        Q.clear_caches()
        ts = []
        for _ in range(reps):
            Q.clear_caches()
            t0 = time.perf_counter()
            fn(spark, sf_dir)
            ts.append(time.perf_counter() - t0)
        out[name] = {"median": round(statistics.median(ts), 3),
                     "all": [round(t, 3) for t in ts]}
        print(name, out[name], flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
