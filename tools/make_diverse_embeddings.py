"""Derive a DIVERSE large embedding table for large-k probes.

make_sf1.py copies embedding vectors verbatim per replica, which is
the right workload for the ANN/near-dup probes (identical vectors keep
those costs linear) but collapses k-means: 100 replicas of 2,000
distinct vectors leave at most ~2,000 non-empty clusters no matter how
large k is, so the large-k Lloyd-update collect never sees ~k rows
(BASELINE.md round-10 addendum 4's honest attribution note). This
writes a perturbed variant — per replica r, each vector becomes
``x*(1 + 1e-4*r) + 1e-3*r`` (deterministic shift + scale, distinct
direction and norm per replica) — so k-means at k up to
reps × 2,000 has ~k populated clusters and the O(k·d) vs O(k) driver
traffic difference is actually exercised.

Output: <checkout>/benchdata/<dst>/embeddings.parquet (gitignored).
Usage: python tools/make_diverse_embeddings.py [reps] [dst]
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1/embeddings.parquet"
_BENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "benchdata")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    dst = os.path.join(_BENCH, sys.argv[2] if len(sys.argv) > 2 else "sf10d")
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    stride = con.execute(
        f"SELECT max(vec_id) + 1 FROM '{SRC}'").fetchone()[0]
    con.execute(f"""
        COPY (
          SELECT vec_id + r.rep * {stride} AS vec_id,
                 list_transform(
                   embedding,
                   x -> CAST(x * (1 + 0.0001 * r.rep)
                             + 0.001 * r.rep AS FLOAT)) AS embedding
          FROM '{SRC}', range({reps}) r(rep)
          ORDER BY 1
        ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)
    """)
    n = con.execute(
        f"SELECT count(*) FROM '{dst}/embeddings.parquet'").fetchone()[0]
    print(f"embeddings {n} rows (stride {stride}, reps {reps})")


if __name__ == "__main__":
    main()
