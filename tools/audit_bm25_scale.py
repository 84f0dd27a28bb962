"""Scale probe for bm25_retrieval (round 12): run the query-by-example
BM25 retrieval at sf0.1 and sf1 (10x documents) and report wall clock
plus the plan shape that matters — the query table must BROADCAST onto
the postings (a corpus shuffle keyed on `term` for a 9-row query table
would be the wrong plan at any scale).

Methodology per BASELINE.md: fresh session, one warm pass at sf0.001,
then timed one-shots. sf1 documents come from tools/make_sf1.py
(50k docs, per-replica suffix tokens so vocabulary grows with reps).

Usage: python tools/audit_bm25_scale.py [reps_per_sf]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark.queries import q_bm25_retrieval  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark(app_name="audit_bm25_scale")
    spark.sparkContext.setLogLevel("ERROR")

    q_bm25_retrieval(spark, "/root/testdata/sf0.001").collect()  # warm

    for sf_dir in ("/root/testdata/sf0.1",
                   os.path.join(ROOT, "benchdata", "sf1")):
        df = q_bm25_retrieval(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        n_bhj = plan.count("BroadcastHashJoin")
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = q_bm25_retrieval(spark, sf_dir).collect()
            times.append(time.perf_counter() - t0)
        print(f"{sf_dir}: rows={len(rows)} "
              f"times={[round(t, 2) for t in times]} "
              f"broadcast_hash_joins={n_bhj}", flush=True)


if __name__ == "__main__":
    main()
