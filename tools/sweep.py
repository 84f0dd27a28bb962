"""Driver-sim correctness sweep: every queries() entry vs its DuckDB
oracle at sf0.01, run the way the driver does (module loaded by file
path; run this from a cwd OUTSIDE the repo to catch worker-sys.path
closure bugs). Per-query status+timing to stdout line-buffered; exit 1
on any failure. Do NOT pipe through grep/tail — that masks the exit
code; redirect to a file instead."""

from __future__ import annotations

import importlib.util
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"


def main() -> int:
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", f"{REPO}/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path.insert(0, REPO)
    from rel_db_to_graph_spark import get_spark
    from tests.oracle_harness import compare
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    print("entry:", len(mod.entry(spark).collect()), "rows", flush=True)
    qs, oracles = mod.queries(), mod.oracle_sql()
    if len(sys.argv) > 1:          # targeted: sweep.py name [name ...]
        qs = {n: qs[n] for n in sys.argv[1:]}
    t0, fails = time.time(), []
    for name, fn in sorted(qs.items()):
        tq = time.time()
        try:
            if name in oracles:
                compare(fn(spark, SF), oracles[name], SF)
                status = "ok"
            else:
                fn(spark, SF).count()
                status = "rows-only ok"
        except Exception as e:
            status = "FAIL " + repr(e)[:300]
            fails.append(name)
            traceback.print_exc()
        print(f"{name}: {status} ({time.time() - tq:.1f}s)", flush=True)
    print(f"DONE {len(qs)} queries in {time.time() - t0:.0f}s, "
          f"fails={fails}", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
