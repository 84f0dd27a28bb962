"""Bucketed tables — co-located joins without a shuffle.

THE scale lever for repeated big-fact joins: write both sides bucketed
(and sorted) on the join key once, and every subsequent equi-join on
that key is shuffle-free — each task reads bucket i of both tables and
merge-joins locally. At 100 TB this converts the nightly
orders⋈lineitem from a 2×full-table shuffle into a map-side merge,
amortized over every downstream query of the snapshot.

Mechanics: `bucketBy(n, key).sortBy(key).saveAsTable(...)` records the
bucketing in the catalog; Spark's scan then reports the bucket spec as
its output partitioning, so the planner drops both Exchange nodes (and
with sortBy, both Sorts) under the SortMergeJoin —
`tests/test_plans.py::test_bucketed_join_is_shuffle_free` pins exactly
that. Bucket count is chosen once per snapshot (rows/bucket sized to a
task's memory); both sides MUST use the same count or Spark falls back
to shuffling the mismatched side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   num_buckets: int) -> None:
    """Persist ``df`` as a parquet table bucketed+sorted on
    ``bucket_col`` (overwrites)."""
    (df.write.mode("overwrite").format("parquet")
     .bucketBy(int(num_buckets), bucket_col)
     .sortBy(bucket_col)
     .saveAsTable(table))


def cobucket_pair(spark: SparkSession, left: DataFrame, right: DataFrame,
                  key_left: str, key_right: str, num_buckets: int,
                  prefix: str = "cobkt") -> tuple[DataFrame, DataFrame]:
    """Write both frames bucketed on their join keys with one shared
    bucket count, and return the catalog-backed reads whose scans carry
    the bucket spec (join them on the keys for a shuffle-free plan)."""
    lt, rt = f"{prefix}_l", f"{prefix}_r"
    write_bucketed(left, lt, key_left, num_buckets)
    write_bucketed(right, rt, key_right, num_buckets)
    return spark.table(lt), spark.table(rt)


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """Drop ``table`` AND its warehouse directory. A crashed writer (or
    a previous session with a different metastore) can leave the
    location on disk without a catalog entry, which makes the next
    managed-table write fail with LOCATION_ALREADY_EXISTS."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    path = jvm.org.apache.hadoop.fs.Path(warehouse, table.lower())
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def write_edge_table(edges: DataFrame, table: str,
                     num_buckets: int = 16) -> None:
    """Persist a (src, dst) edge frame as a parquet table bucketed AND
    sorted on ``dst`` — the layout the sampled GNN trainers probe.
    Incoming-neighbor sampling reads edges BY dst (the message targets),
    so bucketing on dst lets an In(dst, frontier) probe prune to
    |frontier| buckets, and sortBy(dst) clusters each key into one or
    two parquet row groups for min/max pruning inside the bucket. One
    write per snapshot, amortized over every epoch x batch."""
    _drop_table_and_location(edges.sparkSession, table)
    (edges.select("src", "dst").write.mode("overwrite").format("parquet")
     .bucketBy(int(num_buckets), "dst")
     .sortBy("dst")
     .saveAsTable(table))


def write_edge_store(graph_edges: dict, num_buckets: int = 16,
                     prefix: str = "edgestore") -> dict:
    """Persist every edge type of a build_graph edges dict as a
    dst-bucketed table; returns {edge_type: table_name}, the
    ``edge_tables`` of ml/gat_train.py::train_hetero_gat_sampled (whose
    fused sampler, operators.sampling.sample_incoming_hetero_store_multi,
    probes their ``spark.table`` reads)."""
    tables = {}
    for (s, rel, d), df in sorted(graph_edges.items()):
        name = f"{prefix}_{s}_{rel}_{d}".lower()
        write_edge_table(df, name, num_buckets)
        tables[(s, rel, d)] = name
    return tables
