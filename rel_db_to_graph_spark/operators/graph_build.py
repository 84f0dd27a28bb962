"""G2-G8 — heterogeneous graph construction as DataFrame plans.

Reference pipeline (convert_to_graph.py:260-271):
    infer -> edge data -> node data -> format (dense ids + tensors)
    -> degree features -> reverse edges -> self loops -> save

Spark re-expression:
  * dense ids        — the reference builds a python dict
    ``{pk: i for i, pk in enumerate(unique)}`` (C:27) and later *assumes*
    SQL row order == dense id (inference.py:100). That is the single
    least-scalable structure in the reference. Here ids are a DataFrame
    ``(pk, node_id)``:
      - ``dense_ids``          : row_number over ORDER BY pk — fully
        deterministic and oracle-checkable; the global sort is fine for
        dimension-sized tables but is a single-stage total sort.
      - ``dense_ids_scalable`` : md5-bucket + per-bucket rank + prefix-
        sum offsets — no total sort, ids still dense 0..N-1, a pure
        function of the pk set (partitioning-independent), and SQL-
        expressible (row_number OVER (ORDER BY bucket, pk)) so the path
        is oracle-pinned. This is what ``build_graph`` uses: at 100 TB
        the total sort is the thing that falls over.
  * edge endpoint remap — the reference's dict lookups (C:44-45) become
    two equi-joins against the id maps (J5). AQE broadcasts the id map
    when the node table is dimension-sized; otherwise it is a shuffle
    hash join on the natural key — exactly what you want at scale.
  * degree (G5, C:217-241) — union of per-edge-type endpoint counts,
    groupBy-sum, +1, isolated nodes default 1. Runs BEFORE reverse /
    self-loop edges (C:266). Self-referencing edge types count only the
    src endpoint (the ``min(edge.index(node), 1)`` quirk at C:224 —
    reproduced deliberately).
  * reverse edges (G6, C:243-249) — swapped endpoints, relation
    'REVERSE_'+rel, *skipping* self-type edges (C:245).
  * self loops (G7, C:252-257) — (id, id) per node.
  * sink (S9) — partitioned parquet ``graph/nodes/<type>``,
    ``graph/edges/<src>__<rel>__<dst>`` instead of a torch.save blob
    (C:271): splittable, schema'd, predicate-pushable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rel_db_to_graph_spark.sources.catalog import (
    FOREIGN_KEYS,
    PRIMARY_KEYS,
    load_table,
)

#: spark simple-type names treated as numeric features (P6 analog of
#: polars NUMERIC_DTYPES, C:158)
_NUMERIC_TYPES = {"int", "bigint", "smallint", "tinyint", "float", "double"}


def pk_cols_of(table: str) -> list[str]:
    return [k for t, k, _ in PRIMARY_KEYS if t == table]


def fk_cols_of(table: str) -> list[str]:
    return [c for t, c, _tt, _tc in FOREIGN_KEYS if t == table]


def numeric_feature_cols(df: DataFrame, table: str) -> list[str]:
    """P5+P6: drop PK and FK columns, keep numeric scalars (C:154-158)."""
    drop = set(pk_cols_of(table)) | set(fk_cols_of(table))
    return [c for c, t in df.dtypes if c not in drop and t in _NUMERIC_TYPES]


def dense_ids(df: DataFrame, pk: str) -> DataFrame:
    """(pk, node_id) with node_id = dense 0..N-1 ordered by pk (A4/W2).

    Deterministic and ANSI-SQL expressible (row_number() - 1). The global
    window is a total sort — acceptable for node/dimension tables; for
    billion-row node sets prefer ``dense_ids_scalable``.
    """
    w = Window.orderBy(pk)
    return (df.select(pk).distinct()
            .select(F.col(pk).alias("pk"),
                    (F.row_number().over(w) - 1).cast("long").alias("node_id")))


#: default bucket count for the scalable dense-id path. A CONSTANT (not
#: cluster-derived) so the id assignment is a pure function of the data —
#: same ids on local[32] and on 1000 executors, and the DuckDB oracle can
#: hard-code it. Parallelism is not limited by it at scale: raise it per
#: call for billion-row node sets (cost is one broadcast of num_buckets
#: offset rows).
DEFAULT_ID_BUCKETS = 64


def hash_bucket(col: Column, num_buckets: int) -> Column:
    """ANSI-expressible hash bucket: first 4 hex chars of md5(cast to
    string), parsed base 16, mod num_buckets. md5 hex is bit-identical
    in DuckDB, so the oracle computes the same bucket with a Horner
    parse (oracle.py::hash_bucket_sql)."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10)
            .cast("long") % F.lit(int(num_buckets)))


def dense_ids_scalable(df: DataFrame, pk: str,
                       num_buckets: int = DEFAULT_ID_BUCKETS,
                       assume_unique: bool = False) -> DataFrame:
    """Dense 0..N-1 ids without a total sort (the 100 TB path).

    id = (# pks in lower buckets) + rank of pk within its bucket, i.e.
    exactly ``row_number() OVER (ORDER BY bucket(pk), pk) - 1`` — but
    executed as:

      1. one shuffle of the pks on their md5 bucket,
      2. a per-bucket local sort computing BOTH the in-bucket rank and
         the bucket size in one Window stage (bounded partitions — no
         single-partition global sort anywhere),
      3. an exclusive prefix sum over the num_buckets bucket-size rows
         (a one-partition window over 64 rows, not over the data),
         broadcast-joined back. The offsets branch shares the step-1/2
         subplan, so Catalyst reuses the shuffle exchange instead of
         rescanning the source.

    ``assume_unique=True`` skips the defensive ``distinct()`` (one whole
    shuffle) — correct whenever ``pk`` is an actual primary key.

    Fully deterministic (a pure function of the pk set, independent of
    partitioning), dense, and oracle-checkable: the DuckDB twin is the
    total-order row_number above, which DuckDB can afford at test SF.
    """
    base = df.select(F.col(pk).alias("pk"))
    if not assume_unique:
        base = base.distinct()
    bucketed = base.withColumn("_b", hash_bucket(F.col("pk"), num_buckets))
    w_rank = Window.partitionBy("_b").orderBy("pk")
    ranked = bucketed.withColumn("_rk", F.row_number().over(w_rank))
    # bucket sizes from a groupBy on the SAME shuffled subtree (the
    # exchange is reused) instead of a second unordered count(*) window
    # over the data-sized frame — the old form buffered every bucket
    # twice (optimization round 12, guide §2.4). max(_rk) per bucket ==
    # the bucket size, so the offsets are value-identical.
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (ranked.groupBy("_b").agg(F.max("_rk").alias("_n"))
               .select("_b",
                       F.coalesce(F.sum("_n").over(w_off), F.lit(0))
                       .alias("_off")))
    return (ranked.join(F.broadcast(offsets), "_b")
            .select("pk",
                    (F.col("_off") + F.col("_rk") - 1).cast("long")
                    .alias("node_id")))


def _node_frame_bucketed(df: DataFrame, table: str,
                         num_buckets: int = DEFAULT_ID_BUCKETS) -> DataFrame:
    """Fused scan → bucket → rank → offset node frame: the build_graph
    node frame. Its ids are EXACTLY ``dense_ids_scalable``'s (same id
    formula: bucket offset + in-bucket rank - 1), built as ONE plan:

      * the feature columns ride along through the bucket shuffle, so
        there is no separate id subplan and no id-map join back (the
        join costs a second shuffle — or a broadcast whose size grows
        with the node table, the thing you can't rely on at 100 TB);
      * the per-bucket offsets branch is built from the SAME
        ranked/bucketed subtree, so Catalyst reuses the shuffle
        exchange (ReusedExchange) instead of rescanning parquet, and
        the 64 offset rows broadcast-join back for free. No driver
        collect anywhere — one pass over the table, total.
    """
    pk = pk_cols_of(table)[0]
    feats = numeric_feature_cols(df, table)
    bucketed = (df.select(F.col(pk).alias("pk"),
                          *[F.col(c).cast("double").alias(c) for c in feats])
                .withColumn("_b", hash_bucket(F.col("pk"), num_buckets)))
    w_rank = Window.partitionBy("_b").orderBy("pk")
    ranked = bucketed.withColumn("_rk", F.row_number().over(w_rank))
    # bucket sizes via groupBy max(_rk) on the reused exchange instead
    # of a second count(*) window over the wide frame (see
    # dense_ids_scalable — optimization round 12, guide §2.4)
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (ranked.groupBy("_b").agg(F.max("_rk").alias("_n"))
               .select("_b",
                       F.coalesce(F.sum("_n").over(w_off), F.lit(0))
                       .alias("_off")))
    return (ranked.join(F.broadcast(offsets), "_b")
            .select((F.col("_off") + F.col("_rk") - 1).cast("long")
                    .alias("node_id"),
                    "pk", *feats))


def node_frame(spark: SparkSession, sf_dir: str, table: str,
               df: DataFrame | None = None) -> DataFrame:
    """G2: (node_id, pk, <numeric feature cols as double>) for one
    table, with the sorted ``dense_ids`` (node_id = pk rank).

    Pass ``df`` to reuse an existing scan — every spark.read.parquet
    costs a file-listing/schema job, which adds up across 9 tables.
    """
    if df is None:
        df = load_table(spark, sf_dir, table)
    pk = pk_cols_of(table)[0]
    feats = numeric_feature_cols(df, table)
    return (
        df.select(F.col(pk).alias("pk"),
                  *[F.col(c).cast("double").alias(c) for c in feats])
        .join(dense_ids(df, pk), "pk")
        .select("node_id", "pk", *feats)
    )


def edge_pairs(spark: SparkSession, sf_dir: str, pair_table: str,
               src_col: str, dst_col: str, df: DataFrame | None = None,
               attr_cols: list[str] | None = None) -> DataFrame:
    """G3 scan: projection (S7) + null-drop (P9) -> (src_pk, dst_pk[, attrs]).

    ``attr_cols`` are optional per-edge feature columns (the reference's
    edge encoders, convert_to_graph.py:48-53 — `_` at :208, never
    populated for Chinook but part of the API surface): cast to double,
    row-aligned with the endpoints. The null-drop applies to ENDPOINTS
    only — a null attribute survives as NaN after encoding, exactly what
    a torch encoder over a column with missing values would produce.
    """
    if df is None:
        df = load_table(spark, sf_dir, pair_table)
    attrs = [F.col(c).cast("double").alias(c) for c in (attr_cols or [])]
    return (df.select(F.col(src_col).alias("src_pk"),
                      F.col(dst_col).alias("dst_pk"), *attrs)
            .na.drop(subset=["src_pk", "dst_pk"]))


def edges_dense(pairs: DataFrame, src_ids: DataFrame, dst_ids: DataFrame) -> DataFrame:
    """G3/J5: remap endpoints through the id maps -> (src, dst[, attrs]).

    Any non-endpoint column on ``pairs`` (edge attributes from
    ``edge_pairs(attr_cols=...)``) rides through the remap unchanged —
    the joins touch only the endpoint keys.
    """
    attrs = [c for c in pairs.columns if c not in ("src_pk", "dst_pk")]
    return (
        pairs
        .join(src_ids.withColumnsRenamed({"pk": "src_pk", "node_id": "src"}),
              "src_pk")
        .join(dst_ids.withColumnsRenamed({"pk": "dst_pk", "node_id": "dst"}),
              "dst_pk")
        .select("src", "dst", *attrs)
    )


def _incident_counts(incident: list[tuple[bool, bool, DataFrame]]
                     ) -> DataFrame | None:
    """(node_id, cnt) of forward-edge endpoint occurrences, or None when
    no edge type touches this node type. Shared by ``degree`` and
    ``build_graph`` so the builder can attach degrees to the node frame
    with ONE node_id join instead of two (degree-onto-ids, then
    ids-onto-frame — optimization round 12, guide §2.4)."""
    counted = []
    for is_src, is_dst, e in incident:
        if is_src:
            counted.append(e.select(F.col("src").alias("node_id")))
        if is_dst:
            counted.append(e.select(F.col("dst").alias("node_id")))
    if not counted:
        return None
    ends = counted[0]
    for c in counted[1:]:
        ends = ends.unionAll(c)
    # partial (map-side) aggregation is automatic in the groupBy
    return ends.groupBy("node_id").agg(F.count("*").alias("cnt"))


#: the G5 degree formula over a (possibly NULL) endpoint count
def _degree_col() -> Column:
    return F.coalesce(F.col("cnt") + 1, F.lit(1)).cast("long").alias("degree")


def degree(node_ids: DataFrame,
           incident: list[tuple[bool, bool, DataFrame]]) -> DataFrame:
    """G5: (node_id, degree) for one node type.

    ``incident`` lists (is_src, is_dst, edge_df) for every edge type
    touching this node type (forward edges only — degrees are computed
    before reverse/self-loop edges, C:266). For self-referencing edge
    types pass is_dst=False (the C:224 quirk).
    """
    cnt = _incident_counts(incident)
    if cnt is None:
        return node_ids.select("node_id", F.lit(1).cast("long").alias("degree"))
    return (
        node_ids.select("node_id")
        .join(cnt, "node_id", "left")
        .select("node_id", _degree_col())
    )


def reverse_edges(edge_type: tuple[str, str, str], edges: DataFrame) -> DataFrame | None:
    """G6: swapped-endpoint reverse edges; None for self-type edges (C:245).

    Edge attributes are intentionally NOT carried onto reverse edges:
    the reference builds reverse types from edge_index alone
    (convert_to_graph.py:247) and never copies edge_attr.
    """
    src_t, _rel, dst_t = edge_type
    if src_t == dst_t:
        return None
    return edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))


def self_loops(node_ids: DataFrame) -> DataFrame:
    """G7: (id, id) identity pairs."""
    return node_ids.select(F.col("node_id").alias("src"),
                           F.col("node_id").alias("dst"))


#: (applicationId, sf_dir, edge_attrs) -> built graph dict. The frames
#: inside are persisted; several driver queries (hetero_counts,
#: hetero_forward, recommend_gnn) need the same graph, and rebuilding it
#: per query would redo every dense-id sort and edge remap. On insert,
#: entries from other (stopped) sessions are evicted, and same-session
#: entries beyond ``_GRAPH_CACHE_MAX_PER_APP`` are evicted oldest-first;
#: eviction unpersists every frame so a long-lived multi-sf process
#: doesn't accumulate persisted RDDs (dict order = insertion order = LRU
#: enough here: a graph is built once per sf and reused, never rebuilt).
_GRAPH_CACHE: dict[tuple, dict] = {}
_GRAPH_CACHE_MAX_PER_APP = 2


def _evict_graph(key: tuple) -> None:
    """Drop a cache entry, unpersisting its frames (best-effort: the
    owning SparkContext may already be stopped for cross-session keys)."""
    entry = _GRAPH_CACHE.pop(key)
    for df in list(entry["nodes"].values()) + list(entry["edges"].values()):
        try:
            df.unpersist()
        except Exception:
            pass  # dead SparkContext — nothing left to free


def build_graph(spark: SparkSession, sf_dir: str, out_dir: str | None = None,
                edge_attrs: dict[tuple[str, str, str], list[str]] | None = None,
                ) -> dict:
    """G8: full assembly. Returns {'nodes': {t: DF}, 'edges': {(s,r,d): DF}}.

    Order matches the reference (C:260-271): infer -> edges -> nodes ->
    degree -> reverse -> self loops (-> parquet sink if out_dir).
    Results are memoized per (session, sf_dir) — callers treat the
    returned dict as read-only (copy before mutating, as mutate.py does).
    The one sanctioned exception is ``"dst_tables"``: ``pipeline.recommend``
    keeps its per-graph serve tables (driver-side numpy, keyed on
    (dst type, hidden, layers, seed)) there, so they are dropped with the
    cache entry. Code that copies or iterates the dict sees that key too.

    Node ids are ``dense_ids_scalable``'s bucketed dense ids: no total
    sort (the sorted ``dense_ids`` is a single-partition sort per node
    table — the known 100x scale-up killer). Both id assignments are
    deterministic and oracle-pinned; they differ only in the id<->pk
    permutation, which graph semantics never depend on.

    ``edge_attrs`` maps an edge type (src, rel, dst) to the pair-table
    columns to carry as per-edge double features (C:48-53); reverse and
    self-loop edge types never carry attributes (C:247).
    """
    attr_key = (tuple(sorted((k, tuple(v))
                             for k, v in edge_attrs.items()))
                if edge_attrs else None)
    cache_key = (spark.sparkContext.applicationId, sf_dir, attr_key)
    if out_dir is None and cache_key in _GRAPH_CACHE:
        return _GRAPH_CACHE[cache_key]
    from rel_db_to_graph_spark.plans.inference import edge_catalog_py, node_tables_py

    # driver-side catalog (pure python over the registry constants):
    # metadata inference costs zero Spark jobs; the DataFrame twin
    # (plans.inference.edge_catalog) stays the oracle-checked query and
    # tests pin the two equal
    ecat = edge_catalog_py()
    ntabs = [t for t, _pk in node_tables_py()]

    # one scan per physical table — each spark.read.parquet is a
    # file-listing + schema job (~0.5 s of driver latency apiece)
    scans: dict[str, DataFrame] = {}

    def tbl(name: str) -> DataFrame:
        if name not in scans:
            scans[name] = load_table(spark, sf_dir, name)
        return scans[name]

    ids = {}
    nodes = {}
    for t in ntabs:
        # persist the node frame: the id map is re-read by every incident
        # edge remap, the degree join, and self-loops — without a cache
        # each consumer would redo the dense-id assignment. (At 100 TB
        # this cache is the out_dir parquet sink instead.)
        # the fused bucketed frame — one pass, one shuffle,
        # exchange-reused offsets, no id-map join (ids are
        # bit-identical to dense_ids_scalable, pinned by tests). No
        # driver-side offset collect.
        nf = _node_frame_bucketed(tbl(t), t).persist()
        ids[t] = nf.select("pk", "node_id")
        nodes[t] = nf

    edges: dict[tuple[str, str, str], DataFrame] = {}
    for e in ecat:
        key = (e["src_table"], e["relation"], e["dst_table"])
        pairs = edge_pairs(spark, sf_dir, e["pair_table"], e["src_col"],
                           e["dst_col"], df=tbl(e["pair_table"]),
                           attr_cols=(edge_attrs or {}).get(key))
        edges[key] = edges_dense(pairs, ids[e["src_table"]],
                                 ids[e["dst_table"]]).persist()

    # The caches build lazily, on first use by the degree joins below or
    # by a caller. AQE sizes each one from its shuffle bytes (session.py:
    # cached-plan coalescing), so at small scale a cache is a few tasks
    # and has no straggler tail worth overlapping from a thread pool.

    # degree features (before reverse/self-loops, C:266). The endpoint
    # counts attach to the node frame DIRECTLY (left join + the same
    # coalesce(cnt+1, 1) formula): the old shape joined counts onto the
    # id map first and that (node_id, degree) frame onto the node frame
    # second — one redundant node_id join per node type (optimization
    # round 12, guide §2.4; values identical, node_id is a key).
    for t in ntabs:
        incident = []
        for (s, _r, d), edf in edges.items():
            if s == t and d == t:
                incident.append((True, False, edf))      # C:224 quirk
            elif s == t:
                incident.append((True, False, edf))
            elif d == t:
                incident.append((False, True, edf))
        cnt = _incident_counts(incident)
        if cnt is None:
            nodes[t] = nodes[t].withColumn(
                "degree", F.lit(1).cast("long"))
        else:
            nodes[t] = (nodes[t].join(cnt, "node_id", "left")
                        .withColumn("degree", _degree_col())
                        .drop("cnt"))

    # reverse edges (G6)
    for key, edf in list(edges.items()):
        rev = reverse_edges(key, edf)
        if rev is not None:
            s, r, d = key
            edges[(d, f"REVERSE_{r}", s)] = rev

    # self loops (G7)
    for t in ntabs:
        edges[(t, "SELF_LOOP", t)] = self_loops(ids[t])

    if out_dir:
        for t, df in nodes.items():
            df.write.mode("overwrite").parquet(f"{out_dir}/nodes/{t}")
        for (s, r, d), df in edges.items():
            df.write.mode("overwrite").parquet(f"{out_dir}/edges/{s}__{r}__{d}")

    result = {"nodes": nodes, "edges": edges}
    if out_dir is None:
        app_id = spark.sparkContext.applicationId
        for stale in [k for k in _GRAPH_CACHE if k[0] != app_id]:
            _evict_graph(stale)
        _GRAPH_CACHE[cache_key] = result
        mine = [k for k in _GRAPH_CACHE if k[0] == app_id]
        for old in mine[:-_GRAPH_CACHE_MAX_PER_APP]:
            _evict_graph(old)
    return result


def load_graph(spark: SparkSession, graph_dir: str) -> dict:
    """S9 source: read a graph written by ``build_graph(out_dir=...)``.

    The parquet layout (one dataset per node type / edge type) replaces
    the reference's torch.load of a single binary blob (train.py:16,
    inference.py:81): each type is independently scannable, schema'd,
    and partition-prunable.
    """
    import os

    nodes = {}
    for t in sorted(os.listdir(f"{graph_dir}/nodes")):
        nodes[t] = spark.read.parquet(f"{graph_dir}/nodes/{t}")
    edges = {}
    for d in sorted(os.listdir(f"{graph_dir}/edges")):
        s, r, t = d.split("__")
        edges[(s, r, t)] = spark.read.parquet(f"{graph_dir}/edges/{d}")
    return {"nodes": nodes, "edges": edges}
