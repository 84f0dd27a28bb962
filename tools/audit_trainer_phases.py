"""Phase-level wall-clock audit of the sampled trainers at sf1
(VERDICT r8 item 7: find the residual of the per-step scheduling
floor). Methodology per BASELINE.md: fresh session, one warm pass at
sf0.001 (codegen/JIT), then ONE timed sf1 run with the
SPARK_GRAFT_TRACE phase tracer on — the one-shot number is what the
driver window sees.

Usage: python tools/audit_trainer_phases.py [hetero|stack] ...
"""

from __future__ import annotations

import os
import sys
import time

os.environ["SPARK_GRAFT_TRACE"] = "1"   # before gat_train import
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark import queries as Q  # noqa: E402

QS = {"hetero": "q_hetero_link_train_sampled",
      "stack": "q_gat_stack_train_sampled"}


def main() -> None:
    spark = get_spark(app_name="audit_trainer_phases")
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[1:] or ["hetero"]
    for n in names:
        fn = getattr(Q, QS[n])
        print(f"== {n}: warm pass @ sf0.001", flush=True)
        fn(spark, "/root/testdata/sf0.001").collect()
        Q.clear_caches()
        print(f"== {n}: one-shot @ sf1", flush=True)
        t0 = time.time()
        fn(spark, os.path.join(ROOT, "benchdata", "sf1")).collect()
        print(f"== {n}: TOTAL sf1 {time.time() - t0:.1f}s", flush=True)


if __name__ == "__main__":
    main()
