"""Append-vs-rebuild cost audit for the assign-only index maintenance
(round 12: operators/ivf.py::ivf_append, operators/pq.py::ivfpq_append).

The 100 TB claim to measure: absorbing a daily append batch into an
existing index costs O(|batch|) map work, while the rebuild costs
O(iters·n) — so at realistic batch fractions (1-5 % of the corpus) the
maintenance path must beat the rebuild by roughly iters·n/|batch|.

Setup: n diverse 64-dim vectors (tools/make_diverse_embeddings.py
parquet at benchdata/<name>), split 95/5 by id. Measures, one timed
pass each (forced with a noop write so nothing is lazily skipped):

  rebuild   build_ivf_index(full, k, iters=3[, train_sample])
  append    ivf_append(base_assigned, cents, batch) — base index built
            once, untimed
  pq_rebuild train_pq(full) + encode_pq(full)   [m=4, k_codes=8]
  pq_append  encode_pq(batch) with frozen books

Usage: python tools/audit_append_scale.py <parquet_dir> <k> [train_sample]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark.operators.ivf import (  # noqa: E402
    build_ivf_index,
    ivf_append,
)
from rel_db_to_graph_spark.operators.pq import (  # noqa: E402
    encode_pq,
    train_pq,
)


def _force(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    src = sys.argv[1]
    k = int(sys.argv[2])
    train_sample = int(sys.argv[3]) if len(sys.argv) > 3 else None
    spark = get_spark(app_name="audit_append_scale")
    spark.sparkContext.setLogLevel("ERROR")

    e = spark.read.parquet(src)
    n = e.count()
    cut = (e.agg(F.max("vec_id").alias("m")).collect()[0]["m"] * 19) // 20
    base = e.filter(F.col("vec_id") <= cut)
    batch = e.filter(F.col("vec_id") > cut)
    nb = batch.count()
    print(f"n={n} batch={nb} ({100 * nb / n:.1f}%) k={k} "
          f"train_sample={train_sample}", flush=True)

    t0 = time.perf_counter()
    assigned_b, cents_b = build_ivf_index(
        base, k=k, iters=3, train_sample=train_sample)
    print(f"base build (untimed ref): {time.perf_counter() - t0:.1f}s",
          flush=True)

    t0 = time.perf_counter()
    au = ivf_append(assigned_b, cents_b, batch)
    dt = (time.perf_counter() - t0) + _force(au)
    print(f"ivf_append batch: {dt:.1f}s", flush=True)

    t0 = time.perf_counter()
    assigned_f, _ = build_ivf_index(
        e, k=k, iters=3, train_sample=train_sample)
    dt = (time.perf_counter() - t0) + _force(assigned_f)
    print(f"ivf rebuild full: {dt:.1f}s", flush=True)

    t0 = time.perf_counter()
    books = train_pq(base, m=4, k=8, iters=2)
    codes_b = encode_pq(base, books)
    codes_b = codes_b.localCheckpoint(eager=True)
    print(f"pq base build (untimed ref): {time.perf_counter() - t0:.1f}s",
          flush=True)

    # the ivfpq_append coarse half is the ivf_append number above;
    # measure the frozen-codebook encode (the PQ half) on its own
    t0 = time.perf_counter()
    nc = encode_pq(batch, books)
    dt = (time.perf_counter() - t0) + _force(nc)
    print(f"pq_append frozen encode batch: {dt:.1f}s", flush=True)

    t0 = time.perf_counter()
    books_f = train_pq(e, m=4, k=8, iters=2)
    cf = encode_pq(e, books_f)
    dt = (time.perf_counter() - t0) + _force(cf)
    print(f"pq rebuild full (train+encode): {dt:.1f}s", flush=True)


if __name__ == "__main__":
    main()
