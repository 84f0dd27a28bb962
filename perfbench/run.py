"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 0

Run from anywhere inside a checkout of the repository; the engine is
imported from the checkout. The inputs are the fixed sf0.1 tables in
``perfbench/data/``. Spark's scratch space, warehouse, temp files and
event logs stay under ``.bench_build/perfbench/``.

One run: start a session on ``local[nproc]``, then repeat the workload's
operation on the sf0.1 tables until ``--seconds`` have passed (at least
once). Outputs are checked after the loop. With ``--trace 0`` the line
carries the end-to-end metrics; with ``--trace 1`` Spark's event log is
on, every layer call runs in a span, and the line carries the per-span
counters instead. The exit code is 0 only if every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
#: counters reported for the whole operation; layer spans report all of
#: spans.COUNTERS except task_retries
OP_COUNTERS = ("wall_s", "self_s", "jobs", "driver_gap_s", "task_retries")


def _spark_env(trace: bool, marker: str) -> None:
    """Point Spark's configuration, scratch and logs into the work dir,
    and leave every engine knob at its default but the core count."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    dirs = {d: os.path.join(WORK, d)
            for d in ("conf", "tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as fh:
        fh.write(
            "spark.ui.showConsoleProgress false\n"
            f"spark.local.dir {dirs['local']}\n"
            f"spark.sql.warehouse.dir {dirs['warehouse']}\n"
            f"spark.driver.extraJavaOptions -Dderby.system.home={dirs['tmp']}\n"
            f"spark.eventLog.enabled {str(trace).lower()}\n"
            f"spark.eventLog.dir file://{dirs['eventlog']}\n"
            "spark.eventLog.compress false\n"
            "spark.eventLog.rolling.enabled false\n")
    with open(os.path.join(dirs["conf"], "log4j2.properties"), "w") as fh:
        fh.write("rootLogger.level = error\n"
                 "rootLogger.appenderRef.stderr.ref = console\n"
                 "appender.console.type = Console\n"
                 "appender.console.name = console\n"
                 "appender.console.target = SYSTEM_ERR\n"
                 "appender.console.layout.type = PatternLayout\n"
                 "appender.console.layout.pattern = %p %c{1}: %m%n\n")
    os.environ["SPARK_CONF_DIR"] = dirs["conf"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={dirs['tmp']}")
    os.environ["PERFBENCH_RUN"] = marker


def _run_pids(marker: str) -> list[int]:
    """Every live process this run started, found by the marker in its
    environment (this process's own environment file predates it)."""
    needle = f"PERFBENCH_RUN={marker}".encode()
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(pid))
        except OSError:
            pass
    return pids


def _cpu_s(marker: str) -> float:
    """CPU seconds used so far by this run's processes and the children
    they have reaped (user + system)."""
    total = 0
    for pid in [os.getpid()] + _run_pids(marker):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _stop(spark, marker: str) -> None:
    """Stop the session, end the JVM, and wait until no other process
    started by this run is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while _run_pids(marker) and time.time() < deadline:
        time.sleep(0.2)


def _layer_metrics(tracer, log_path: str, outputs: list[dict],
                   setup_s: float) -> dict:
    """Per-operation counters of every layer span of every workload (0
    for spans this workload does not run), of the whole operation, and
    the extra counts."""
    from spans import COUNTERS, read_event_log, span_counters
    from workloads import WORKLOADS

    counters, unattributed = span_counters(tracer.spans,
                                           read_event_log(log_path))
    n = len(outputs)
    metrics = {f"{span}.{k}": counters.get(span, {}).get(k, 0) / n
               for w in WORKLOADS.values() for span in w.spans
               for k in COUNTERS if k != "task_retries"}
    metrics.update({f"op.{k}": counters["op"][k] / n for k in OP_COUNTERS})
    metrics["session.start_s"] = setup_s
    metrics["graph_build.cache_hits"] = sum(
        o.get("cache_hits", 0) for o in outputs) / n
    metrics["recommend.requests"] = sum(
        o.get("requests", 0) for o in outputs) / n
    metrics["trace.unattributed_jobs"] = unattributed
    return metrics


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("_bytes") else "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import rel_db_to_graph_spark  # noqa: F401  (fail fast without the engine)
    from spans import Tracer
    from workloads import DATA, WORKLOADS

    workload = WORKLOADS[args.workload](args.seed)
    sf_dir = os.path.join(DATA, "sf0.1")
    marker = uuid.uuid4().hex
    _spark_env(bool(args.trace), marker)

    from rel_db_to_graph_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload.name}")
    spark.range(1).count()
    setup_s = time.perf_counter() - t0

    tracer = Tracer(spark.sparkContext if args.trace else None)
    if args.trace:
        workload.install(tracer)
    app_id = spark.sparkContext.applicationId
    walls, cpus, outputs, raised = [], [], [], 0
    end = time.perf_counter() + args.seconds
    while True:
        t, cpu = time.perf_counter(), _cpu_s(marker)
        try:
            with tracer.span("op"):
                outputs.append(workload.op(spark, tracer, sf_dir))
            walls.append(time.perf_counter() - t)
            cpus.append(_cpu_s(marker) - cpu)
        except Exception as exc:  # a failed operation counts, the run goes on
            print(f"operation failed: {exc!r}", file=sys.stderr)
            raised += 1
        if time.perf_counter() >= end:
            break
    _stop(spark, marker)

    failed = raised
    for out in outputs:
        problems = workload.check(sf_dir, out)
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        failed += bool(problems)

    if args.trace and walls:
        log_path = os.path.join(WORK, "eventlog", app_id)
        values = _layer_metrics(tracer, log_path, outputs, setup_s)
        os.remove(log_path)
    elif walls:
        values = {"op_s": statistics.median(walls),
                  "op_cpu_s": statistics.median(cpus), "setup_s": setup_s}
    else:
        values = {}
    metrics = {k: {"value": v, "unit": _unit(k)} for k, v in values.items()}
    print(json.dumps({"correct": failed == 0 and bool(walls),
                      "attempted": len(outputs) + raised,
                      "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 and walls else 1


if __name__ == "__main__":
    sys.exit(main())
