"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with a full materialization (count / collect of the
final result) so the timing covers scan→shuffle→result, not plan build.

Noise control: the whole headline pass runs $SPARK_GRAFT_BENCH_REPS
times (default 3) and each query reports its MEDIAN — BASELINE.md
documents ~1.4x per-query host drift on this box, which single-shot
timings can't distinguish from real regressions (the round-3 "speedup"
was 100% noise). The graph cache is cleared between passes so every
pass sees the same intra-pass cache semantics as a single-shot run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rel_db_to_graph_spark import get_spark
from rel_db_to_graph_spark import queries as Q
from rel_db_to_graph_spark.operators.graph_build import build_graph


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def bench_graph_build(spark, sf_dir: str) -> int:
    """G1-G8 end-to-end: build every node/edge frame, materialize ALL of
    them in one action (union of per-frame counts — 29 separate .count()
    jobs would measure job-scheduling overhead, not the pipeline)."""
    from pyspark.sql import functions as F

    g = build_graph(spark, sf_dir)
    frames = list(g["nodes"].values()) + list(g["edges"].values())
    counts = frames[0].agg(F.count("*").alias("n"))
    for df in frames[1:]:
        counts = counts.unionAll(df.agg(F.count("*").alias("n")))
    return sum(r.n for r in counts.collect())


def _force(df) -> None:
    """FULL materialization: a noop write evaluates every output column.
    ``count()`` is only a valid forcer for aggregate/join-shaped plans —
    on map-only or window-only outputs Catalyst prunes the measured
    expressions entirely (round-5 find: counting ``semantic_dedup``
    even ELIMINATED its pair join, hiding 90% of the true cost;
    ``simhash`` timed a parquet row count). Queries whose plan must run
    for a count (aggregates, inner joins, TakeOrdered collects) keep
    their cheaper forcers for cross-round comparability."""
    df.write.format("noop").mode("overwrite").save()


HEADLINE = {
    "graph_build": bench_graph_build,
    "pricing_summary": lambda s, d: Q.q_pricing_summary(s, d).collect(),
    "revenue_by_nation": lambda s, d: Q.q_revenue_by_nation(s, d).collect(),
    "recommend": lambda s, d: Q.q_recommend(s, d).collect(),
    "degree": lambda s, d: Q.q_degree(s, d).count(),
    "near_dup_pairs": lambda s, d: Q.q_near_dup_pairs(s, d).count(),
    "simhash": lambda s, d: _force(Q.q_simhash(s, d)),
    "ann_brute": lambda s, d: Q.q_ann_brute(s, d).collect(),
    "events_sessionize": lambda s, d: _force(Q.q_events_sessionize(s, d)),
    "eval_metrics": lambda s, d: Q.q_eval_metrics(s, d).collect(),
    # north-star curation/analytics ops (round 2 additions)
    "token_pack": lambda s, d: _force(Q.q_token_pack(s, d)),
    "dedup_clusters": lambda s, d: Q.q_dedup_clusters(s, d).count(),
    "pagerank": lambda s, d: Q.q_pagerank(s, d).count(),
    # round 4 additions: vocabulary-scale shuffle + the as-of merge join
    "tfidf_keywords": lambda s, d: Q.q_tfidf_keywords(s, d).count(),
    "events_asof": lambda s, d: _force(Q.q_events_asof(s, d)),
    # round 5 additions: iterative k-means tiers + the trained filter scan
    "semantic_dedup": lambda s, d: _force(Q.q_semantic_dedup(s, d)),
    "ann_pq": lambda s, d: Q.q_ann_pq(s, d).collect(),
    "quality_lr_score": lambda s, d: _force(Q.q_quality_lr_score(s, d)),
    # graph-analytics tier representative: basket projection + degree-
    # ordered wedge enumeration (the heaviest multi-join in the repo)
    "triangle_count": lambda s, d: Q.q_triangle_count(s, d).count(),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the session, then run every headline query once at the smoke
    # SF (untimed). The plans at both SFs are structurally identical, so
    # this populates the whole-stage-codegen cache and JITs the hot
    # paths: the timed numbers then measure pipeline throughput (the
    # steady-state quantity that matters at 100 TB), not one-time
    # compiler latency. Without this, graph_build pays ~8 s of codegen
    # at ANY data size.
    spark.range(1000).count()
    if warm_dir and warm_dir != sf_dir:
        for name, fn in HEADLINE.items():
            fn(spark, warm_dir)
        Q.clear_caches()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # the three noisiest queries (BASELINE.md: ~1.4x host drift on this
    # box, worst on the heavy multi-stage ones) get extra interleaved
    # passes so their medians come from 5 samples, not 3
    noisy = ("graph_build", "dedup_clusters", "pagerank")
    extra = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_NOISY_EXTRA", "2")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # deterministic per-query Spark JOB counts (statusTracker), measured
    # on the first timed pass: at small SF most headline queries are
    # bound by the ~0.4-0.6 s/job local scheduler floor, so low-core
    # wall-clock ratios read ~1 regardless of how parallel the plans
    # are (r12 verdict item 2). Job counts do not depend on the core
    # count, so (jobs, sec/job) lets the harness consumer tell
    # "floor-bound at this SF" apart from "does not scale". Timing
    # methodology is unchanged — same forcers, reps and medians; the
    # job-group label costs nothing and names each query in the UI
    # (guide §1.5).
    jobs: dict[str, int] = {}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pass_no = 0

    def timed_pass(names) -> None:
        nonlocal pass_no
        pass_no += 1
        Q.clear_caches()
        for name in names:
            group = f"bench:{name}:p{pass_no}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            HEADLINE[name](spark, sf_dir)
            samples[name].append(time.perf_counter() - t0)
            if name not in jobs:
                jobs[name] = len(tracker.getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    for _ in range(reps):
        timed_pass(HEADLINE)
    for _ in range(extra):
        timed_pass([n for n in HEADLINE if n in noisy])
    timings = {name: round(statistics.median(ts), 3)
               for name, ts in samples.items()}
    # floor-bound marker: median wall under ~0.75 s per job means the
    # query's wall clock is dominated by per-job scheduling latency at
    # this SF, so a low-core rerun CANNOT show a core-ratio speedup on
    # it (the honest reading of a ~1.0 scaling ratio)
    floor_bound = {name: bool(timings[name] < 0.75 * max(jobs.get(name, 1), 1))
                   for name in timings}

    print(json.dumps({
        "metric": "headline_queries_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "reps": reps,
        "reps_noisy": reps + extra,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "jobs": jobs,
        "floor_bound": floor_bound,
    }))


if __name__ == "__main__":
    main()
