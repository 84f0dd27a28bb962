"""Derive an sf1-scale benchmark dataset from the driver's sf0.1 parquet.

The driver only generates sf{0.001,0.01,0.1}; scale validation at sf1
(~6M lineitem) needs 10x that. This replicates every fact table 10x with
key-space offsets (dimension tables region/nation stay fixed, like
TPC-H), so FK joins keep the same selectivity and key distributions
while row counts scale exactly 10x. Document texts get a per-replica
suffix token so the near-dup workload stays ~linear (verbatim clones
would quadratically inflate LSH buckets and change the workload's
character, not just its size). Embedding vectors are copied as-is (the
headline ANN query is a linear scan; identical vectors don't change its
cost profile).

Output: <checkout>/benchdata/<dst>/*.parquet (gitignored); dst defaults
to sf1. reps=100 + dst=sf10 derives the round-8 sf10 probe dataset
(~60M lineitem, 500k documents) for the superlinear-tail audit.
Usage: python tools/make_sf1.py [reps] [dst]
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
_BENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "benchdata")
DST = os.path.join(_BENCH, sys.argv[2] if len(sys.argv) > 2 else "sf1")

# table -> (offset columns (scaled per replica), passthrough dims)
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]
# offset domain per FK family: one stride per referenced key space
STRIDE_OF = {
    "c_custkey": "customer.c_custkey", "o_custkey": "customer.c_custkey",
    "s_suppkey": "supplier.s_suppkey", "l_suppkey": "supplier.s_suppkey",
    "p_partkey": "part.p_partkey", "l_partkey": "part.p_partkey",
    "o_orderkey": "orders.o_orderkey", "l_orderkey": "orders.o_orderkey",
    "event_id": "events.event_id", "user_id": "events.user_id",
    "doc_id": "documents.doc_id", "vec_id": "embeddings.vec_id",
}


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for t in DIMS + list(KEYED):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SRC}/{t}.parquet'")
    strides = {}
    for col, src in STRIDE_OF.items():
        tbl, c = src.split(".")
        strides[col] = con.execute(
            f"SELECT max({c}) + 1 FROM {tbl}").fetchone()[0]

    for t in DIMS:
        con.execute(f"COPY (SELECT * FROM {t}) TO '{DST}/{t}.parquet' "
                    "(FORMAT PARQUET)")
        print(t, "copied")
    for t, keys in KEYED.items():
        cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
        selects = []
        for i in range(reps):
            exprs = []
            for c in cols:
                if c in keys:
                    exprs.append(f"CAST({c} + {i * strides[c]} AS BIGINT) AS {c}")
                elif t == "documents" and c == "text" and i > 0:
                    exprs.append(f"text || ' replica{i}' AS text")
                elif t == "documents" and c == "n_chars" and i > 0:
                    exprs.append(
                        f"CAST(n_chars + {len(f' replica{i}')} AS BIGINT)"
                        " AS n_chars")
                else:
                    exprs.append(c)
            selects.append(f"SELECT {', '.join(exprs)} FROM {t}")
        q = " UNION ALL ".join(selects)
        con.execute(f"COPY ({q}) TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{DST}/{t}.parquet'").fetchone()[0]
        print(t, n, "rows")


if __name__ == "__main__":
    main()
