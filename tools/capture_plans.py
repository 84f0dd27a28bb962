"""Capture .explain("formatted") for the headline bench queries into
plans/<tag>/<name>_{before,after}.txt (guide §7.2 evidence files).

Usage: python tools/capture_plans.py before|after [query ...]

Runs at $SPARK_GRAFT_SF_DIR (default sf0.1) so plan shapes (join
strategies under AQE estimates, literal counts) match the bench.
``graph_build`` is captured as the bench's union-of-counts frame.
"""

from __future__ import annotations

import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark import queries as Q  # noqa: E402

TAG_DIR = os.environ.get("SPARK_GRAFT_PLAN_DIR",
                         os.path.join(ROOT, "plans", "r13"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def graph_build_counts(spark, sf_dir):
    from pyspark.sql import functions as F

    from rel_db_to_graph_spark.operators.graph_build import build_graph
    g = build_graph(spark, sf_dir)
    frames = list(g["nodes"].values()) + list(g["edges"].values())
    counts = frames[0].agg(F.count("*").alias("n"))
    for df in frames[1:]:
        counts = counts.unionAll(df.agg(F.count("*").alias("n")))
    return counts


HEADLINE = {
    "graph_build": graph_build_counts,
    "pricing_summary": Q.q_pricing_summary,
    "revenue_by_nation": Q.q_revenue_by_nation,
    "recommend": Q.q_recommend,
    "degree": Q.q_degree,
    "near_dup_pairs": Q.q_near_dup_pairs,
    "simhash": Q.q_simhash,
    "ann_brute": Q.q_ann_brute,
    "events_sessionize": Q.q_events_sessionize,
    "eval_metrics": Q.q_eval_metrics,
    "token_pack": Q.q_token_pack,
    "dedup_clusters": Q.q_dedup_clusters,
    "pagerank": Q.q_pagerank,
    "tfidf_keywords": Q.q_tfidf_keywords,
    "events_asof": Q.q_events_asof,
    "semantic_dedup": Q.q_semantic_dedup,
    "ann_pq": Q.q_ann_pq,
    "quality_lr_score": Q.q_quality_lr_score,
    "triangle_count": Q.q_triangle_count,
}


def main() -> None:
    suffix = sys.argv[1]
    assert suffix in ("before", "after"), "arg 1 must be before|after"
    names = sys.argv[2:] or list(HEADLINE)
    os.makedirs(TAG_DIR, exist_ok=True)
    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = HEADLINE[name](spark, SF_DIR)
        buf = io.StringIO()
        stdout, sys.stdout = sys.stdout, buf
        try:
            df.explain("formatted")
        finally:
            sys.stdout = stdout
        path = f"{TAG_DIR}/{name}_{suffix}.txt"
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} chars)", flush=True)


if __name__ == "__main__":
    main()
