"""sf10 probe of the sampled hetero trainer (round 9): the claim to
verify is |E|-INDEPENDENCE of the per-step cost — batch membership is a
filter, sampling probes a dst-bucketed store (~|frontier| row groups),
and gradient steps touch O(fanout x batch) rows — so at 100x the sf0.1
data the trainer's wall-clock should move with the one-time terms
(graph build, feats materialization, store write, val closure), not
with the steps. One-shot methodology (BASELINE.md): sf0.001 warm pass,
then one timed run per SF with the SPARK_GRAFT_TRACE phase breakdown.

Usage: python tools/audit_sf10_trainer.py [sf_dirs...]
"""

from __future__ import annotations

import os
import sys
import time

os.environ["SPARK_GRAFT_TRACE"] = "1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark import queries as Q  # noqa: E402


def main() -> None:
    dirs = sys.argv[1:] or [os.path.join(ROOT, "benchdata", "sf1"),
                            os.path.join(ROOT, "benchdata", "sf10")]
    spark = get_spark(app_name="audit_sf10_trainer")
    spark.sparkContext.setLogLevel("ERROR")
    print("== warm @ sf0.001", flush=True)
    Q.q_hetero_link_train_sampled(spark, "/root/testdata/sf0.001").collect()
    for d in dirs:
        Q.clear_caches()
        print(f"== one-shot @ {d}", flush=True)
        t0 = time.time()
        Q.q_hetero_link_train_sampled(spark, d).collect()
        print(f"== TOTAL {d}: {time.time() - t0:.1f}s", flush=True)


if __name__ == "__main__":
    main()
