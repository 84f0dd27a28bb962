"""The benchmark's own tests: the event-log parser, span attribution on a
tiny traced run, and the private engine names the benchmark relies on.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The traced test runs both workloads' operations once on the sf0.001
tables in perfbench/data, on ``local[2]`` (about two minutes).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, os.path.dirname(BENCH))
sys.path.insert(0, BENCH)

from spans import Tracer, read_event_log, span_counters  # noqa: E402


def _write_log(path, events) -> str:
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")
    return str(path)


def _job(jid, group, start_ms, end_ms, stages):
    return [{"Event": "SparkListenerJobStart", "Job ID": jid,
             "Submission Time": start_ms, "Stage IDs": stages,
             "Properties": {"spark.jobGroup.id": group} if group else {}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid,
             "Completion Time": end_ms}]


def _task(stage, launch_ms, finish_ms, run_ms, attempt=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms,
                          "Attempt": attempt, "Getting Result Time": 0},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                "Executor Deserialize Time": 1, "Result Serialization Time": 1,
                "JVM GC Time": 2, "Memory Bytes Spilled": 5,
                "Disk Bytes Spilled": 0, "Input Metrics": {"Bytes Read": 100},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": 7},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 9}}}


def test_span_counters_on_a_synthetic_log(tmp_path):
    # root span 0-10 s with a child 4-8 s; root jobs at 1-2 s and 2.5-3 s,
    # one child job at 5-7 s, and one ungrouped job inside the root
    spans = [
        {"name": "op", "group": "g0", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "child", "group": "g1", "parent": "g0", "start": 4.0, "end": 8.0},
    ]
    events = (_job(0, "g0", 1000, 2000, [0]) + _job(1, "g0", 2500, 3000, [1])
              + _job(2, "g1", 5000, 7000, [2]) + _job(3, None, 9000, 9500, [3])
              + [_task(0, 1000, 1100, 90), _task(2, 5000, 6000, 900, attempt=1),
                 _task(2, 5000, 5500, 400)])
    counters, unattributed = span_counters(
        spans, read_event_log(_write_log(tmp_path / "log", events)))
    op, child = counters["op"], counters["child"]
    assert unattributed == 1
    assert (op["wall_s"], op["self_s"], op["jobs"]) == (10.0, 6.0, 2)
    assert op["driver_gap_s"] == pytest.approx(6.0 - 1.5)
    assert (child["wall_s"], child["self_s"], child["jobs"]) == (4.0, 4.0, 1)
    assert child["driver_gap_s"] == pytest.approx(2.0)
    assert child["tasks"] == 2 and op["tasks"] == 1
    assert child["exec_run_s"] == pytest.approx(1.3)
    assert child["exec_cpu_s"] == pytest.approx(1.3)
    assert child["sched_delay_s"] == pytest.approx((1000 - 902 + 500 - 402) / 1e3)
    assert child["task_retries"] == 1
    assert (child["shuffle_read_bytes"], child["shuffle_write_bytes"],
            child["input_bytes"], child["spill_bytes"]) == (14, 18, 200, 10)


def test_private_engine_names_are_where_the_benchmark_expects():
    """The benchmark empties two private caches and wraps two names that
    ``pipeline`` imports. A rename must fail here, not silently turn
    cache-miss operations into cache hits or drop spans."""
    from rel_db_to_graph_spark import pipeline, queries
    from rel_db_to_graph_spark.operators import graph_build

    assert isinstance(graph_build._GRAPH_CACHE, dict)
    assert isinstance(queries._COPURCHASE_CACHE, dict)
    assert callable(pipeline.train_edge_scorer)
    assert callable(pipeline.mutate_for_inference)


def test_recorded_oracle_hashes_are_the_duckdb_twins():
    """oracle.json holds the hashes of the DuckDB twins' results; checked
    here on sf0.001 (sf0.1 takes about a minute)."""
    from workloads import DATA, GraphIterate, oracle_hashes

    recorded = GraphIterate(0).oracle
    assert set(recorded) == set(os.listdir(DATA))
    assert recorded["sf0.001"] == oracle_hashes(os.path.join(DATA, "sf0.001"))


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """Both workloads' operations once on the sf0.001 tables, traced."""
    from pyspark.sql import SparkSession

    from workloads import DATA, GraphIterate, Pipeline

    sf_dir = os.path.join(DATA, "sf0.001")
    log_dir = tmp_path_factory.mktemp("perfbench") / "eventlog"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    app_id = spark.sparkContext.applicationId
    tracer = Tracer(spark.sparkContext)
    runs = []
    for workload in (Pipeline(7), GraphIterate(7)):
        undo = workload.install(tracer)
        try:
            with tracer.span("op"):
                out = workload.op(spark, tracer, sf_dir)
        finally:
            undo()
        runs.append((workload, out))
    spark.stop()
    return {"sf_dir": sf_dir, "runs": runs, "tracer": tracer,
            "log": read_event_log(str(log_dir / app_id))}


def test_traced_outputs_pass_their_checks(traced):
    for workload, out in traced["runs"]:
        assert workload.check(traced["sf_dir"], out) == []
    pipeline_out = traced["runs"][0][1]
    assert pipeline_out["cache_hits"] == pipeline_out["requests"] == 2


def test_every_job_in_an_operation_has_exactly_one_span(traced):
    spans, log = traced["tracer"].spans, traced["log"]
    groups = {s["group"] for s in spans}
    roots = [s for s in spans if s["name"] == "op"]
    inside = [j for j in log["jobs"].values()
              if any(r["start"] <= j["start"] <= r["end"] for r in roots)]
    assert inside and all(j["group"] in groups for j in inside)
    counters, unattributed = span_counters(spans, log)
    assert unattributed == 0
    assert sum(c["jobs"] for c in counters.values()) == len(inside)


def test_every_listed_span_reports_and_self_times_cover_the_operation(traced):
    counters, _ = span_counters(traced["tracer"].spans, traced["log"])
    for workload, _out in traced["runs"]:
        for span in workload.spans:
            assert counters[span]["jobs"] > 0, span
            assert counters[span]["tasks"] > 0, span
    layer_self = sum(c["self_s"] for name, c in counters.items() if name != "op")
    assert layer_self >= 0.9 * counters["op"]["wall_s"]
    assert layer_self + counters["op"]["self_s"] == pytest.approx(
        counters["op"]["wall_s"])
