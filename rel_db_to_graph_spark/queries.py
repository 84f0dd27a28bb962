"""The driver-facing query inventory (SURVEY.md §2 coverage).

Every function takes (spark, sf_dir) and returns a DataFrame. Each has a
matching ANSI-SQL oracle in ``rel_db_to_graph_spark.oracle`` (except the
seeded/sampled ops, which get rows-only checks + property tests).

Determinism rules used throughout (so the driver's order-insensitive
value-hash matches DuckDB exactly):
  * aggregate sums of doubles go through a decimal cast (exact, order-
    independent) and back to double;
  * every rounded float is rounded identically in the oracle;
  * every top-k has a total tie-break order;
  * md5 (bit-identical across engines) is the only hash in oracle-checked
    paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rel_db_to_graph_spark.functions.vector import sigmoid
from rel_db_to_graph_spark.operators import dedup as D
from rel_db_to_graph_spark.operators import graph_build
from rel_db_to_graph_spark.operators import text as T
from rel_db_to_graph_spark.operators.events import (
    asof_join, hourly_rollup, range_join, sessionize)
from rel_db_to_graph_spark.operators.graph_build import (
    build_graph,
    dense_ids,
    edge_pairs,
    edges_dense,
    node_frame,
)
from rel_db_to_graph_spark.operators.multimodal import attach_payload, decode_metadata
from rel_db_to_graph_spark.operators.recommend import recommend_parts
from rel_db_to_graph_spark.operators.sampling import negative_sample, sample_subgraph
from rel_db_to_graph_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)
from rel_db_to_graph_spark.operators.split import hash_split
from rel_db_to_graph_spark.plans.inference import edge_catalog, table_kinds
from rel_db_to_graph_spark.sources.catalog import (
    foreign_keys,
    load_table,
    primary_keys,
)


def _dec_sum(col, alias: str, scale: str = "decimal(27,6)"):
    """Order-independent double sum: decimal-exact accumulate, one cast."""
    return F.sum(col.cast(scale)).cast("double").alias(alias)


# ---------------------------------------------------------------- catalog / meta

def q_catalog_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4/A1: PK-arity table classification."""
    return table_kinds(spark).select("table_name", F.col("pk_cols").cast("long"),
                                     "kind")


def q_edge_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: full node/edge schema inference."""
    return edge_catalog(spark)


def q_metadata_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2: diagonal union-by-name of PK and FK metadata."""
    return primary_keys(spark).unionByName(foreign_keys(spark),
                                           allowMissingColumns=True)


# ---------------------------------------------------------------- scans / filters

def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: projection scan (pushes into parquet ReadSchema)."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity")


def q_filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: LIKE + comparison predicates (pushed to the scan)."""
    p = load_table(spark, sf_dir, "part")
    return (p.filter(~F.col("p_type").like("%a%") & (F.col("p_size") > 20))
            .select("p_partkey", "p_name", "p_type", "p_size"))


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: membership via left-semi join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (c.join(o.select(F.col("o_custkey").alias("c_custkey")),
                   "c_custkey", "left_semi")
            .filter(F.col("c_acctbal") > 0)
            .select("c_custkey", "c_name"))


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/U4: set difference via left-anti join (never-ordered parts)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (p.join(li.select(F.col("l_partkey").alias("p_partkey")),
                   "p_partkey", "left_anti")
            .select("p_partkey", "p_name"))


def q_three_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/J4/P12: the track-list display query shape (inference.py:85-94)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .join(n, c.c_nationkey == n.n_nationkey, "left")
        .select(
            "o_orderkey",
            F.concat_ws(" - ", F.col("c_name"), F.col("o_orderpriority"))
            .alias("display"),
            "n_name")
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events props column."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_int"))


def q_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: one-hot encoding over a fixed category domain (genres analog,
    convert_to_graph.py:162)."""
    c = load_table(spark, sf_dir, "customer")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return c.select(
        "c_custkey",
        *[F.when(F.col("c_mktsegment") == s, 1).otherwise(0)
          .cast("int").alias(f"seg_{s.lower()}") for s in segs])


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: top-k with total tie-break (TakeOrdered, not a global sort)."""
    o = load_table(spark, sf_dir, "orders")
    return (o.select("o_orderkey", "o_totalprice")
            .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
            .limit(10))


# ---------------------------------------------------------------- aggregations

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the hash-aggregate workhorse (bench headline)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(disc, "sum_disc_price"),
            _dec_sum(charge, "sum_charge"),
            F.count("*").alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-aggregate over the FK chain orders→customer→nation."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(_dec_sum(F.col("o_totalprice"), "revenue"),
             F.count("*").alias("n_orders"))
    )


def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9/L7/L8: accuracy/precision/recall + BCE as one aggregation —
    the torchmetrics block (model.py:100-140) as a single-pass agg."""
    o = load_table(spark, sf_dir, "orders")
    z = (F.col("o_totalprice") - 250000.0) / 100000.0
    p = sigmoid(z)
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    yhat = F.when(F.col("o_totalprice") > 250000.0, 1).otherwise(0)
    loss = -(y * F.log(p) + (1 - y) * F.log(1 - p))
    scored = o.select(y.alias("y"), yhat.alias("yhat"), loss.alias("loss"))
    return (
        scored.agg(
            F.count("*").alias("n"),
            F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
            .alias("tp"),
            F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
            .alias("fp"),
            F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 0), 1).otherwise(0))
            .alias("fn"),
            _dec_sum(F.col("loss"), "loss_sum", "decimal(27,8)"),
        )
        .select(
            F.col("n"),
            F.round((F.col("n") - F.col("fp") - F.col("fn")) / F.col("n"), 6)
            .alias("acc"),
            F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias("prec"),
            F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6).alias("rec"),
            F.round(F.col("loss_sum") / F.col("n"), 6).alias("bce"),
        )
    )


# ---------------------------------------------------------------- graph build

def q_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W2/G2: dense 0..N-1 id assignment for customer."""
    return dense_ids(load_table(spark, sf_dir, "customer"), "c_custkey")


def q_dense_ids_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W2/G2 at scale: the bucketed no-total-sort id assignment —
    build_graph's default path, oracle-pinned to its SQL collapse
    (row_number OVER (ORDER BY md5-bucket, pk))."""
    from rel_db_to_graph_spark.operators.graph_build import dense_ids_scalable
    return dense_ids_scalable(load_table(spark, sf_dir, "customer"),
                              "c_custkey")


def q_dense_ids_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W2/G2 — BOTH dense-id assignments in ONE registry slot
    (driver-window capacity consolidation, round 8 — the q_ann_variants
    tagged-union pattern): the reference-faithful total-order
    row_number path and the bucketed no-total-sort scale path
    (build_graph's default) union with a tag column, each keeping its
    own oracle-checked id function. Branches stay independent lazy
    plans — no fused scan."""
    from rel_db_to_graph_spark.operators.graph_build import dense_ids_scalable
    c = load_table(spark, sf_dir, "customer")
    tag = lambda df, name: df.select(  # noqa: E731
        F.lit(name).alias("variant"), "pk", "node_id")
    return (tag(dense_ids(c, "c_custkey"), "sorted")
            .unionByName(tag(dense_ids_scalable(c, "c_custkey"),
                             "bucketed")))


def q_node_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2/G4/P5/P6: part node frame — FK/PK dropped, numeric-only, float."""
    return node_frame(spark, sf_dir, "part")


def q_edges_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3/J5: orders→customer FK edges in dense-id space."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pairs = edge_pairs(spark, sf_dir, "orders", "o_orderkey", "o_custkey")
    return edges_dense(pairs, dense_ids(o, "o_orderkey"), dense_ids(c, "c_custkey"))


def q_edges_junction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/J3/G3: lineitem junction → orders↔part edges in dense-id space."""
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    pairs = edge_pairs(spark, sf_dir, "lineitem", "l_orderkey", "l_partkey")
    return edges_dense(pairs, dense_ids(o, "o_orderkey"), dense_ids(p, "p_partkey"))


def q_edges_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-attribute plumbing (C:48-53, the `_` at C:208 populated):
    the lineitem junction edge carrying (l_quantity, l_extendedprice) as
    per-edge double features, row-aligned through the dense remap. The
    attrs ride the endpoint joins untouched — same plan as q_edges_junction
    plus two projected columns."""
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    pairs = edge_pairs(spark, sf_dir, "lineitem", "l_orderkey", "l_partkey",
                       attr_cols=["l_quantity", "l_extendedprice"])
    return edges_dense(pairs, dense_ids(o, "o_orderkey"),
                       dense_ids(p, "p_partkey"))


def q_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5/A2/A3/A5: customer degree feature (forward edges only, +1,
    isolated→1)."""
    c = load_table(spark, sf_dir, "customer")
    cid = dense_ids(c, "c_custkey")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    oc = edges_dense(edge_pairs(spark, sf_dir, "orders", "o_orderkey", "o_custkey"),
                     dense_ids(o, "o_orderkey"), cid)
    cn = edges_dense(edge_pairs(spark, sf_dir, "customer", "c_custkey", "c_nationkey"),
                     cid, dense_ids(n, "n_nationkey"))
    from rel_db_to_graph_spark.operators.graph_build import degree
    return degree(cid.select("node_id"), [(False, True, oc), (True, False, cn)])


def q_hetero_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6/G7/G8: edge counts of the fully built graph (forward + REVERSE_
    + SELF_LOOP) — the graph-assembly invariant check."""
    g = build_graph(spark, sf_dir)
    frames = []
    for (s, r, d), df in g["edges"].items():
        frames.append(df.agg(F.count("*").alias("n_edges")).select(
            F.lit(s).alias("src_table"), F.lit(r).alias("relation"),
            F.lit(d).alias("dst_table"), "n_edges"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


def q_self_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: identity edges for customer."""
    from rel_db_to_graph_spark.operators.graph_build import self_loops
    return self_loops(dense_ids(load_table(spark, sf_dir, "customer"), "c_custkey"))


def q_msg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/L5-one-hop/L6: aggregate-messages — orders send o_totalprice to
    their customer; sum + sigmoid activation."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cid = dense_ids(c, "c_custkey")
    msgs = (o.join(cid, o.o_custkey == cid.pk)
            .groupBy("node_id")
            .agg(F.count("*").alias("n_msgs"),
                 _dec_sum(F.col("o_totalprice"), "sum_msg")))
    return (cid.select("node_id")
            .join(msgs, "node_id", "left")
            .select("node_id",
                    F.coalesce(F.col("n_msgs"), F.lit(0)).alias("n_msgs"),
                    F.coalesce(F.col("sum_msg"), F.lit(0.0)).alias("sum_msg"))
            .withColumn("act", F.round(sigmoid(F.col("sum_msg") / 1e6), 6)))


def q_msg_agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 with EDGE ATTRIBUTES consumed (C:48-53 populated AND used,
    not just carried): parts aggregate quantity-weighted order
    totalprice over the lineitem junction edge — message = edge_weight
    × src_feature, the edge_attr-aware GNN aggregation. Same plan as
    q_msg_agg plus one projected column riding the remap joins; the
    weighted sum is decimal-exact (order-independent)."""
    from rel_db_to_graph_spark.operators.graph_build import edge_pairs

    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    oid = dense_ids(o, "o_orderkey")
    pid = dense_ids(p, "p_partkey")
    pairs = edge_pairs(spark, sf_dir, "lineitem", "l_orderkey", "l_partkey",
                       attr_cols=["l_quantity"])
    e = edges_dense(pairs, oid, pid)   # (src, dst, l_quantity)
    feat = o.join(oid, o.o_orderkey == oid.pk).select(
        F.col("node_id").alias("src"), "o_totalprice")
    msgs = (e.join(feat, "src")
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.count("*").alias("n_msgs"),
                 _dec_sum(F.col("l_quantity") * F.col("o_totalprice"),
                          "sum_wmsg")))
    return (pid.select("node_id")
            .join(msgs, "node_id", "left")
            .select("node_id",
                    F.coalesce(F.col("n_msgs"), F.lit(0)).alias("n_msgs"),
                    F.coalesce(F.col("sum_wmsg"), F.lit(0.0))
                    .alias("sum_wmsg")))


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic (the measurement half of the skew playbook —
    salting/AQE are the cure, this is the thermometer): top-20 heaviest
    user_id keys in events with integer parts-per-million share.
    One partial-aggregated groupBy + TakeOrdered; the grand total rides
    the plan as a broadcast 1-row frame (no separate driver action);
    floor(ppm) is integer-exact so the row set is bit-identical across
    engines."""
    e = load_table(spark, sf_dir, "events")
    tot = e.agg(F.count("*").alias("_tot"))
    return (e.groupBy("user_id")
            .agg(F.count("*").alias("n_rows"))
            .crossJoin(F.broadcast(tot))
            .withColumn("share_ppm",
                        F.floor(F.col("n_rows") * F.lit(1_000_000.0)
                                / F.col("_tot")).cast("long"))
            .drop("_tot")
            .orderBy(F.desc("n_rows"), F.col("user_id"))
            .limit(20))


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key over (p_size, p_partkey mod 1024) — the
    multi-dimensional clustering key for layout compaction: sorting by
    the interleaved-bit key keeps BOTH columns' row-group min/max
    ranges tight, so scans filtering on either dimension prune. Pure
    codegen bit arithmetic, no UDF."""
    from rel_db_to_graph_spark.functions.zorder import zorder_key

    p = load_table(spark, sf_dir, "part")
    return (p.select(
        "p_partkey", "p_size",
        F.pmod(F.col("p_partkey"), F.lit(1024)).alias("bucket"))
        .withColumn("zkey", zorder_key(F.col("p_size"),
                                       F.col("bucket"), bits=10)))


def q_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9/L6/A7: the flagship recommend query."""
    return recommend_parts(spark, sf_dir, k=10)


# ------------------------------------------------- sampled ops (rows-only checks)

def q_link_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: content-addressed 0.85/0.15 link split — counts. Uses the
    md5 draw variant (operators/split.py::hash_split) so the split is
    bit-identical in DuckDB and the query is HASH-CHECKED against an
    independent SQL twin (was rows-only through r6); the trainers keep
    the default xxhash64 draw — same split shape, cheaper hash."""
    e = q_edges_fk(spark, sf_dir)
    return (hash_split(e, draw="md5")
            .groupBy("split").agg(F.count("*").alias("n_edges")))


def q_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: 2-hop fanout-bounded neighborhood of 10 seed orders. Uses
    the md5 rank-key variant (operators/sampling.py::sample_neighbors)
    so every per-src hash-rank window is reproducible in DuckDB and the
    sampled edge set is HASH-CHECKED against an unrolled 2-hop SQL twin
    (was rows-only through r6); trainers keep the xxhash64 default."""
    e = q_edges_junction(spark, sf_dir)
    seeds = e.select("src").distinct().orderBy("src").limit(10)
    return sample_subgraph(e, seeds, fanouts=[3, 2], draw="md5")


def q_hetero_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 heterogeneous: 2-hop fanout-2 sampling across the WHOLE graph
    dict from 5 customer seeds — per-edge-type-per-hop edge counts (the
    LinkNeighborLoader shape, dataloader.py:24-51). Uses the md5 rank
    key so every per-type per-hop window is reproducible in DuckDB: the
    oracle is GENERATED from the same edge catalog (FK + reverse + self
    loop types, scalable ids, per-type seeds) and hash-checks the full
    sampled census (was rows-only through r6)."""
    from rel_db_to_graph_spark.operators.sampling import sample_hetero_subgraph

    g = build_graph(spark, sf_dir)
    seeds = {"customer":
             g["nodes"]["customer"].select("node_id").orderBy("node_id").limit(5)}
    sub = sample_hetero_subgraph(g, seeds, fanouts=[2, 2], draw="md5")
    return (sub.groupBy("src_table", "relation", "dst_table", "hop")
            .agg(F.count("*").alias("n_edges"))
            .orderBy("hop", "src_table", "relation", "dst_table"))


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: binary negative sampling over orders→customer. Uses the md5
    corrupt-dst draw (operators/sampling.py::negative_sample) so the
    drawn negatives are bit-identical in DuckDB and the full labeled
    set is HASH-CHECKED against an independent SQL twin (was rows-only
    through r6); trainers keep the xxhash64 default."""
    e = q_edges_fk(spark, sf_dir)
    cid = dense_ids(load_table(spark, sf_dir, "customer"), "c_custkey")
    return negative_sample(e, cid, ratio=1, draw="md5")


def q_link_pred_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7-L11, HASH-CHECKED (VERDICT r7 item 2, the quality_lr_train
    pattern): end-to-end link prediction — orders→customer positives +
    binary md5-draw negatives, per-edge features from both endpoints,
    full-batch plain-GD logistic training with best-val checkpointing.
    Returns the per-epoch ACCURACY history (train acc at the pre-step
    weights, val acc at the post-step weights — the loop's exact
    timeline): accuracy = correct/n is integer-derived, so the match is
    robust to gradient sum-order last-ulp divergence while still
    pinning every epoch's decision boundary. The DuckDB twin RETRAINS
    the model (oracle.py::_link_pred_train_sql — unrolled per-epoch
    gradient CTE chains over the same md5 negatives and md5 split).
    AdamW (the reference optimizer, model.py:151-152) keeps its
    driver-visible row via the hetero trainers and its numpy pin in
    tests/test_train.py. Reference: train.py:72-80, model.py:118."""
    from rel_db_to_graph_spark.functions.vector import dot
    from rel_db_to_graph_spark.ml.train import train_edge_scorer

    e = q_edges_fk(spark, sf_dir)
    cid = dense_ids(load_table(spark, sf_dir, "customer"), "c_custkey")
    labeled = negative_sample(e, cid, ratio=1, seed=42, draw="md5")

    # heterogeneous endpoint features: orders on src, customers on dst
    o = load_table(spark, sf_dir, "orders")
    oid = dense_ids(o, "o_orderkey")
    ofeat = (o.join(oid, o.o_orderkey == oid.pk)
             .select(F.col("node_id").alias("src"),
                     (F.col("o_totalprice") / 100000.0).alias("_fs")))
    c = load_table(spark, sf_dir, "customer")
    cfeat = (c.join(cid, c.c_custkey == cid.pk)
             .select(F.col("node_id").alias("dst"),
                     (F.col("c_acctbal") / 10000.0).alias("_fd")))
    s_arr = F.array(F.col("_fs"))
    d_arr = F.array(F.col("_fd"))
    examples = (labeled.join(ofeat, "src").join(cfeat, "dst")
                .select("src", "dst", "label",
                        F.concat(s_arr, d_arr,
                                 F.array(dot(s_arr, d_arr))).alias("features")))
    # plain full-batch GD (optimizer='sgd'): the cross-engine-exact
    # config — the twin unrolls w' = w - lr·(Σ err·x / n) per epoch;
    # AdamW's moment state would be replayable too but adds nothing
    # here (the informative-embedding AdamW variant of this loop is
    # hetero_link_train)
    res = train_edge_scorer(examples, dim=3, epochs=3, lr=0.5,
                            optimizer="sgd", split_draw="md5")
    return spark.createDataFrame(
        [(h["epoch"], float(h["train_acc"]), float(h["val_acc"]))
         for h in res.history],
        "epoch int, train_acc double, val_acc double")


def q_hetero_link_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5+L6+L9-L11 (rows-only; iterative): END-TO-END trained link
    prediction over the FULL hetero model shape — per-type input
    projections, per-edge-type GATv2 attention (forward + REVERSE +
    self-loop types), aggr='sum' + self transform, dot decoder; every
    parameter learns by backprop (ml/gat_train.py::train_hetero_gat;
    reference: to_hetero training, model.py:84-152, train.py:72-80).
    AdamW over orders→customer positives + binary negatives. Returns
    the epoch history; train BCE must decrease."""
    from rel_db_to_graph_spark.ml.gat_train import train_hetero_gat

    sub_edges, feats, labeled = _hetero_link_fixture(spark, sf_dir)
    res = train_hetero_gat(sub_edges, feats, labeled,
                           src_type="orders", dst_type="customer",
                           hidden=2, epochs=3, lr=0.05, seed=42)
    return spark.createDataFrame(
        [(h["epoch"], float(h["train_loss"]), float(h["val_acc"]))
         for h in res.history],
        "epoch int, train_loss double, val_acc double")


def _cap_examples(ex: DataFrame, cap: int = 50_000,
                  seed: int = 4241) -> DataFrame:
    """Content-addressed bound on a labeled example set for the
    bounded-runtime sampled-trainer DEMO queries: ``max_batches``
    already bounds gradient steps per epoch, but at sf1 the example
    set itself (and with it the val split, its dependency closure, and
    the per-epoch eval forward) grew unboundedly — 600k val edges
    validating a model trained on 2x512 examples (round-7 sf1 profile:
    validation-dominated). The cap is the SAME content-addressed-subset
    idiom the batch filter uses, so it is deterministic on any
    partitioning; it is a no-op below ~1.2x cap, so driver-SF
    (<= sf0.01) results are byte-identical. The trainer itself stays
    uncapped — exactness anchors and scale semantics are untouched."""
    n = ex.count()
    if n <= cap * 6 // 5:
        return ex
    k = -(-n // cap)
    return ex.filter(F.pmod(F.xxhash64("src", "dst", F.lit(seed)),
                            F.lit(k)) == 0)


def q_hetero_link_train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2→L10 composed (rows-only; iterative + sampled): mini-batch
    training of the full hetero model through SAMPLED dependency
    subgraphs — the LinkNeighborLoader regime (reference
    dataloader.py:24-51, fanout 15 / batch 512 / shuffle=True) that
    makes GNN training tractable when the graph no longer fits an
    epoch. Content-addressed batch membership, ≤15 in-edges per node
    per edge type per batch (per-batch shuffle volume O(fanout×batch),
    independent of |E|), full-neighborhood validation. max_batches=2
    bounds driver runtime; each epoch then sees a different
    content-addressed subset (still valid SGD). Returns the epoch
    history; train BCE must decrease.

    The trainer splits the work (round 11): distributed sampling /
    membership / closure cuts + the local step engine for the
    sequential optimizer chain (ml/local_step.py — the stage-count
    answer to the ~6 s/step driver floor). The hash-gated md5/quantized
    sibling below runs the same engine."""
    from rel_db_to_graph_spark.ml.gat_train import train_hetero_gat_sampled

    sub_edges, feats, labeled = _hetero_link_fixture(spark, sf_dir)
    # dst-bucketed store (VERDICT r5 item 3): one write per snapshot,
    # then every sampler probe is an In(dst, frontier) bucket-pruned
    # scan instead of a full |E| pass — the sampled edges are
    # bit-identical (tests/test_edge_store.py)
    from rel_db_to_graph_spark.sources.bucketed import write_edge_store
    tables = write_edge_store(sub_edges, num_buckets=16,
                              prefix="q_hetero_sampled")
    labeled = _cap_examples(labeled)
    res = train_hetero_gat_sampled(
        sub_edges, feats, labeled, src_type="orders", dst_type="customer",
        hidden=2, fanouts=[15], batch_size=512, max_batches=2,
        epochs=2, lr=0.05, seed=42, edge_tables=tables)
    return spark.createDataFrame(
        [(h["epoch"], float(h["train_loss"]), int(h["train_n"]),
          float(h["val_acc"]))
         for h in res.history],
        "epoch int, train_loss double, train_n long, val_acc double")


def q_hetero_link_train_sampled_q(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The FLAGSHIP trainer configuration under the hash gate (round
    10, VERDICT r9 gap 1 — the last rows-only tier): mini-batch
    sampled training of the FULL heterogeneous model (reference
    T:72-80 + dataloader.py:24-51) — orders↔customer message graph
    (hasCust + REVERSE_hasCust + both SELF_LOOPs), per-type input
    projections, per-edge-type GATv2 attention, aggr='sum' + self
    combine, dot decoder — composed with the
    q_gat_stack_train_sampled_q conventions: md5 negative sampling,
    md5 split, md5 batch membership, per-edge-type md5 in-edge draws
    (fanout 1 — real draw divergence), 6-dp quantized forwards
    (_hetero_epoch quantize=True), per-batch plain-GD steps. The
    DuckDB twin (oracle.py::_hetero_link_train_sampled_q_sql) RETRAINS
    the loop: scalable dense ids, full-graph degrees, max-abs scaled
    features, replayed negatives/split/membership/draws, the quantized
    hetero forward + full backprop (decoder → sigmoid chain → softmax
    Jacobian → LeakyReLU gate → Wselfᵀ/Wlᵀ/Wrᵀ chain into h0 → W0) as
    CTE algebra, and the identical GD updates; per epoch it emits
    (train_n, val_acc) — integer-derived, immune to gradient-sum
    last-ulp drift. The production xxhash64/AdamW flagship stays
    driver-visible as q_hetero_link_train_sampled.

    The trainer runs its one step engine (ml/local_step.py:
    distributed sampling / split / membership / closure cuts +
    vectorized-numpy optimizer chain), so a hash match certifies that
    the engine production runs reproduces the exact integer history
    the independent replay derives."""
    from rel_db_to_graph_spark.ml.gat_train import train_hetero_gat_sampled

    sub_edges, feats, labeled = _hetero_link_fixture(spark, sf_dir, "md5")
    res = train_hetero_gat_sampled(
        sub_edges, feats, labeled, src_type="orders", dst_type="customer",
        hidden=2, fanouts=[1], batch_size=512, max_batches=2,
        epochs=2, lr=0.5, seed=42, optimizer="sgd", quantize=True,
        split_draw="md5", batch_draw="md5", sample_draw="md5")
    return spark.createDataFrame(
        [(h["epoch"], int(h["train_n"]), float(h["val_acc"]))
         for h in res.history],
        "epoch int, train_n long, val_acc double")


def _hetero_link_fixture(spark: SparkSession, sf_dir: str,
                         draw: str = "xxhash64"):
    """Shared fixture of the three hetero trainer queries: (sub_edges,
    feats, labeled) — the orders↔customer message graph (every built
    edge type between the two node types: hasCust, REVERSE_hasCust and
    both SELF_LOOPs), max-abs normalized node features, and the
    orders→customer positives with ``draw`` binary negatives."""
    from rel_db_to_graph_spark.ml.hetero import node_features_normalized

    g = build_graph(spark, sf_dir)
    pos = g["edges"][("orders", "hasCust", "customer")]
    labeled = negative_sample(pos, g["nodes"]["customer"].select("node_id"),
                              ratio=1, seed=42, draw=draw)
    feats_raw = node_features_normalized(
        {t: g["nodes"][t] for t in ("orders", "customer")})
    feats = {t: feats_raw[t][0] for t in feats_raw}
    sub_edges = {et: df.select("src", "dst")
                 for et, df in g["edges"].items()
                 if et[0] in feats and et[2] in feats}
    return sub_edges, feats, labeled


def _ring_stride_fixture(spark: SparkSession, sf_dir: str):
    """Shared fixture of the four stack-trainer queries: (edges, feats,
    pairs) on the customer graph — deterministic ring (i -> (i+1) mod n)
    + the SELF_LOOP edges as the message graph (every node has
    in-edges), stride pairs (i, i+k mod n) for k in {1, 7, 13} labeled
    same-nation (map-only generation, no cross join; the FK was dropped
    from the node frame per P5, so it rejoins via pk). The DuckDB twins
    re-derive the identical fixture from raw parquet
    (oracle.py::_gat_stack_train_q_sql and its sampled sibling)."""
    from rel_db_to_graph_spark.ml.hetero import node_features_normalized

    g = build_graph(spark, sf_dir)
    cust = g["nodes"]["customer"]
    feats = node_features_normalized({"customer": cust})["customer"][0]
    n_nodes = cust.count()
    ring = cust.select(
        F.col("node_id").alias("src"),
        ((F.col("node_id") + 1) % F.lit(n_nodes)).alias("dst"))
    loops = g["edges"][("customer", "SELF_LOOP", "customer")]
    edges = ring.unionByName(loops.select("src", "dst"))
    raw = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pk"), "c_nationkey")
    cn = (cust.select("node_id", "pk").join(raw, "pk")
          .select("node_id", F.col("c_nationkey").alias("_nk")))
    strides = None
    for k in (1, 7, 13):
        s = cn.select(F.col("node_id").alias("src"),
                      ((F.col("node_id") + k) % F.lit(n_nodes)).alias("dst"))
        strides = s if strides is None else strides.unionByName(s)
    pairs = (strides
             .join(cn.select(F.col("node_id").alias("src"),
                             F.col("_nk").alias("_na")), "src")
             .join(cn.select(F.col("node_id").alias("dst"),
                             F.col("_nk").alias("_nb")), "dst")
             .select("src", "dst",
                     (F.col("_na") == F.col("_nb")).cast("int")
                     .alias("label")))
    return edges, feats, pairs


def q_gat_stack_train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2→L10 at FULL DEPTH (rows-only; iterative + sampled): the
    2-layer homogeneous GATv2 stack trained through per-layer sampled
    in-edge closures — the complete `[num_neighbors] * num_layers`
    LinkNeighborLoader shape (reference dataloader.py:24-51). Same
    customer→nation message graph and labels as q_gat_stack_train;
    fanouts [15, 15], content-addressed batches, max_batches=2 bounds
    driver runtime. Returns the epoch history; train BCE must
    decrease. Distributed sampling + the local step chain (see
    q_hetero_link_train_sampled), the same engine as the hash-gated
    quantized sibling."""
    from rel_db_to_graph_spark.ml.gat_train import train_gat_stack_sampled

    edges, feats, ex = _ring_stride_fixture(spark, sf_dir)
    # dst-bucketed store: the sampler probes prune to the frontier's
    # buckets/row groups instead of scanning |E| (bit-identical draws,
    # tests/test_edge_store.py)
    from rel_db_to_graph_spark.sources.bucketed import write_edge_table
    write_edge_table(edges, "q_gat_stack_sampled_edges", num_buckets=16)
    ex = _cap_examples(ex)
    res = train_gat_stack_sampled(edges, feats, ex, hidden=2, layers=2,
                                  fanouts=[15, 15], batch_size=512,
                                  max_batches=2, epochs=2, lr=0.05,
                                  seed=42,
                                  edge_table="q_gat_stack_sampled_edges")
    return spark.createDataFrame(
        [(h["epoch"], float(h["train_loss"]), int(h["train_n"]),
          float(h["val_acc"]))
         for h in res.history],
        "epoch int, train_loss double, train_n long, val_acc double")


def q_gat_stack_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 FULL DEPTH (rows-only; iterative): 2-layer homogeneous GATv2
    stack trained end-to-end — backprop chains through BOTH attention
    layers (∂L/∂h^{l-1} = Wlᵀ∂s + Wrᵀ∂t, ml/gat_train.py::
    train_gat_stack; reference trains all conv layers, model.py:84-152).
    Customer co-purchase graph (customers linked via shared orders →
    nation loop edges kept small by using the customer→nation edge as
    the message graph); label = same-nation pairs from a deterministic
    sample. Returns the epoch history; train BCE must decrease."""
    from rel_db_to_graph_spark.ml.gat_train import train_gat_stack

    edges, feats, pairs = _ring_stride_fixture(spark, sf_dir)
    res = train_gat_stack(edges, feats, pairs, hidden=2, layers=2,
                          epochs=3, lr=0.05, seed=42)
    return spark.createDataFrame(
        [(h["epoch"], float(h["train_loss"]), float(h["val_acc"]))
         for h in res.history],
        "epoch int, train_loss double, val_acc double")


def q_gat_stack_train_variants(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The two AdamW full-precision stack-trainer demos consolidated
    into ONE rows-only registry slot (round 10 capacity + VERDICT r9
    gap 1 bookkeeping: rows-only 5→4): variant 'full' = the full-batch
    2-layer trainer, variant 'sampled' = the mini-batch sampled loop —
    both over the shared ring+stride fixture, both by design without a
    DuckDB twin (AdamW/unquantized float sums), each tier hash-checked
    via its quantized sibling (gat_stack_train_q /
    gat_stack_train_sampled_q). Output: (variant, epoch, train_loss,
    train_n, val_acc), train_n NULL for the full-batch variant."""
    full = q_gat_stack_train(spark, sf_dir).select(
        F.lit("full").alias("variant"), "epoch", "train_loss",
        F.lit(None).cast("long").alias("train_n"), "val_acc")
    sampled = q_gat_stack_train_sampled(spark, sf_dir).select(
        F.lit("sampled").alias("variant"), "epoch", "train_loss",
        "train_n", "val_acc")
    return full.unionByName(sampled)


def q_gat_stack_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5+L10 multi-layer TRAINING under the hash gate (round 9,
    VERDICT r8 item 4 — the next rung after r8's quantized forward and
    GD-retrained scorer): the same 2-layer homogeneous GATv2 stack,
    ring+self-loop customer graph and stride-pair labels as
    q_gat_stack_train, but with 6-dp QUANTIZED forwards
    (attention_layer quantize=True), plain full-batch GD, the md5 split
    draw, and an INTEGER-DERIVED accuracy history (train acc at the
    pre-step weights, val acc at the post-step weights — the
    link_pred_train timeline). The DuckDB twin RETRAINS the model
    (oracle.py::_gat_stack_train_q_sql): per epoch it replays both
    quantized attention forwards, runs the full backprop — decoder
    grads, sigmoid chain, softmax Jacobian, LeakyReLU gate, Wlᵀ/Wrᵀ
    chain into layer 1 — as CTE algebra, and takes the identical GD
    step; accuracy = correct/n is immune to gradient-sum last-ulp
    divergence. Real backprop through BOTH attention layers is thereby
    cross-engine checked; the AdamW full-depth trainer stays
    driver-visible as q_gat_stack_train."""
    from rel_db_to_graph_spark.ml.gat_train import train_gat_stack

    edges, feats, pairs = _ring_stride_fixture(spark, sf_dir)
    # lr=0.5 (vs the AdamW trainer's 0.05) so the 3-epoch GD
    # trajectory actually MOVES the decision boundary — the twin then
    # pins a changing accuracy history, not a fixed point
    res = train_gat_stack(edges, feats, pairs, hidden=2, layers=2,
                          epochs=3, lr=0.5, seed=42,
                          optimizer="sgd", quantize=True,
                          split_draw="md5")
    return spark.createDataFrame(
        [(h["epoch"], float(h["train_acc"]), float(h["val_acc"]))
         for h in res.history],
        "epoch int, train_acc double, val_acc double")


def q_gat_stack_train_sampled_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """L2→L10 SAMPLED mini-batch training under the hash gate (round 9
    — the last GNN tier without a hash-checked representative after
    the forward / inference / scorer-training / full-batch-backprop
    rungs): the 2-layer GATv2 stack trained through 2-hop sampled
    in-edge closures with fanout 1 (REAL draw divergence — each node
    keeps 1 of its 2 in-edges on the ring+self-loop graph), md5
    content-addressed batch membership, per-BATCH plain-GD steps on
    6-dp quantized forwards, and the md5 split. The DuckDB twin
    (oracle.py::_gat_stack_train_sampled_q_sql) RETRAINS the whole
    loop: it re-derives n_batches from the data, replays every batch's
    membership, both hops' md5 neighbor draws (row_number per dst over
    md5(dst:src:seed+hop)), the zero-coalesced closure forwards, the
    restricted backprop, and the per-batch updates; per epoch it
    outputs (train_n, val_acc) — both integer-derived, immune to
    gradient-sum last-ulp drift. The production xxhash64/AdamW sampled
    trainer stays driver-visible as q_gat_stack_train_sampled. The
    trainer's one step engine (ml/local_step.py) runs the loop, so the
    match certifies the engine production uses."""
    from rel_db_to_graph_spark.ml.gat_train import train_gat_stack_sampled

    edges, feats, pairs = _ring_stride_fixture(spark, sf_dir)
    res = train_gat_stack_sampled(
        edges, feats, pairs, hidden=2, layers=2, fanouts=[1, 1],
        batch_size=128, max_batches=2, epochs=2, lr=0.5, seed=42,
        optimizer="sgd", quantize=True, split_draw="md5",
        batch_draw="md5", sample_draw="md5")
    return spark.createDataFrame(
        [(h["epoch"], int(h["train_n"]), float(h["val_acc"]))
         for h in res.history],
        "epoch int, train_n long, val_acc double")


def q_recommend_gnn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9+L5+L6+A7, HASH-CHECKED since round 9 (VERDICT r8 item 3; was
    rows-only): the reference's full inference path — graph mutation
    (REPLACE quirk I:58-59), heterogeneous GNN forward, dot-product
    decode, top-k — run under the 6-dp quantized-forward convention, so
    the DuckDB twin REPLAYS the mutated-graph forward
    (oracle.py::_hetero_forward_q_sql(recommend_k=10) — appended
    zero-feature node, basket-only hasPart/REVERSE_ edges, untouched
    degrees) and re-derives the same top-10: ranks on 6-dp-quantized
    sigmoid scores are integer-derived, immune to last-ulp drift. The
    faithful unquantized forward stays driver-visible via
    q_hetero_forward."""
    from rel_db_to_graph_spark.operators.recommend import recommend_parts_gnn
    return recommend_parts_gnn(spark, sf_dir, k=10, quantize=True)


def q_hetero_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 full-model (rows-only; seeded matrix math → not SQL-expressible):
    heterogeneous to_hetero-style GATv2 forward over the fully built graph
    (every node type, every edge type incl. REVERSE_/SELF_LOOP). Returns a
    deterministic per-type summary of the resulting embeddings."""
    from rel_db_to_graph_spark.ml.hetero import hetero_gat_forward

    g = build_graph(spark, sf_dir)
    emb = hetero_gat_forward(g, hidden=2, layers=1, seed=42)
    return _hetero_emb_summary(emb)


def _hetero_emb_summary(emb: dict[str, DataFrame]) -> DataFrame:
    frames = []
    for t in sorted(emb):
        frames.append(emb[t].agg(
            F.count("*").alias("n_nodes"),
            F.round(_dec_sum(F.element_at("emb", 1), "_s1"), 6).alias("sum_dim1"),
            F.round(_dec_sum(F.element_at("emb", 2), "_s2"), 6).alias("sum_dim2"),
        ).select(F.lit(t).alias("node_type"), "n_nodes", "sum_dim1", "sum_dim2"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


def q_hetero_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 full-model, HASH-CHECKED (VERDICT r7 item 1): the same
    heterogeneous to_hetero-style GATv2 forward as q_hetero_forward —
    every node type, every edge type incl. REVERSE_/SELF_LOOP, seeded
    weights — but with the repo's 6-dp float-parity quantization at
    each order-dependent reduction (softmax partition sums, α-weighted
    message sums, sigmoid outputs; ml/hetero.py::hetero_layer
    (quantize=True), the one tagged-union hetero layer).
    That makes the forward cross-engine exact, so the DuckDB twin
    REPLAYS it over the same graph (oracle.py::_hetero_forward_q_sql
    re-derives degrees, max-abs feature scaling, the per-edge-type
    attention passes and the aggr='sum' combine from the raw parquet
    tables, with the identical seeded weights inlined as literals).
    The faithful unquantized forward stays as q_hetero_forward.
    Reference: to_hetero(model, metadata, aggr='sum'), model.py:92-94;
    forward pass train.py:39-47."""
    from rel_db_to_graph_spark.ml.hetero import hetero_gat_forward

    g = build_graph(spark, sf_dir)
    emb = hetero_gat_forward(g, hidden=2, layers=1, seed=42, quantize=True)
    return _hetero_emb_summary(emb)


# ---------------------------------------------------------------- text / dedup

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = T.normalize(F.col("text"))
    return d.select(
        "doc_id",
        T.token_count(norm).cast("long").alias("n_tokens"),
        T.subword_count(norm).cast("long").alias("n_subwords"),
        F.length(norm).cast("long").alias("n_chars_norm"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(T.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(T.quality_score(F.col("text")), 6).alias("quality"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.lang_id(F.col("text")).alias("pred_lang"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicate_groups(load_table(spark, sf_dir, "documents"))


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = D.doc_signatures(load_table(spark, sf_dir, "documents"),
                            materialize=False)
    return sigs.select(
        "doc_id",
        F.element_at("minhash", 1).alias("sig_first"),
        F.element_at("minhash", 16).alias("sig_last"))


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket=None: the DuckDB oracle computes EXHAUSTIVE pairs, so the
    # oracle-gated twin must too — the capped default stays for production
    # callers (a >max_bucket band bucket would silently drop pairs the
    # oracle reports, making parity data-dependent).
    return D.near_duplicate_pairs(load_table(spark, sf_dir, "documents"),
                                  threshold=0.5, max_bucket=None)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_table(load_table(spark, sf_dir, "documents"))


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs (round 12): Hamming radius 3 over
    4 sixteen-bit bands — EXACT by pigeonhole at radius <= bands-1, so
    the banding is a pruning strategy, not an approximation, at this
    configuration. max_bucket=None because the DuckDB twin is
    exhaustive (same rule as q_near_dup_pairs); the production cap
    stays available on the operator (operators/dedup.py::
    simhash_near_dup)."""
    return D.simhash_near_dup(load_table(spark, sf_dir, "documents"),
                              radius=3, bands=4, max_bucket=None)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character chunks (size 200, overlap 50) —
    the doc-splitting step before embedding/indexing; map-only explode."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", T.normalize(F.col("text")).alias("_norm"))
    staged = staged.localCheckpoint(eager=True)   # bind _norm (HOF caveat)
    return (staged
            .select("doc_id",
                    F.explode(T.chunk_spans(F.col("_norm"), 200, 50))
                    .alias("c"))
            .select("doc_id", F.col("c.chunk_id").alias("chunk_id"),
                    F.col("c.chunk_text").alias("chunk_text"))
            .withColumn("n_chars",
                        F.length("chunk_text").cast("long")))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: duplicate word-n-gram
    ratios per doc (high = boilerplate)."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id",
                      T.tokens(T.normalize(F.col("text"))).alias("_toks"))
    staged = staged.localCheckpoint(eager=True)   # bind _toks
    r2, r3 = T.repetition_ratios(F.col("_toks"))
    return staged.select("doc_id", r2.alias("dup_2gram_ratio"),
                         r3.alias("dup_3gram_ratio"))


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted lineitem⋈orders revenue rollup — puts the hot-key
    join path (functions/skew.py) under the driver's correctness gate:
    the salted plan must equal the plain join to the last digit
    (decimal sums; salt only routes rows)."""
    from rel_db_to_graph_spark.functions.skew import salted_join
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    j = salted_join(li, o, ["l_orderkey"], salt=8)
    return (j.groupBy("o_orderpriority")
            .agg(_dec_sum(F.col("l_extendedprice")
                          * (F.lit(1.0) - F.col("l_discount")), "revenue"),
                 F.count("*").alias("n_items")))


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer graph — the graph-health
    profile (hub detection, skew diagnosis) over the existing degree
    operator."""
    return (q_degree(spark, sf_dir)
            .groupBy("degree")
            .agg(F.count("*").alias("n_nodes")))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 iterations, d=0.85) over the orders->customer->nation
    chain — the BSP iterative-analytics capstone. Decimal-quantized
    sums make the iteration order/partitioning-independent, so the
    unrolled DuckDB twin matches to the last digit."""
    from rel_db_to_graph_spark.operators.pagerank import pagerank
    # long vertex ids with the type in the low 2 bits (orders=0,
    # customer=1, nation=2): long-keyed shuffles hash/compare far
    # cheaper than 'o:123'-style strings
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") * 4).alias("src"),
        (F.col("o_custkey") * 4 + 1).alias("dst"))
    c = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") * 4 + 1).alias("src"),
        (F.col("c_nationkey") * 4 + 2).alias("dst"))
    return pagerank(o.unionByName(c), n_iter=5)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts over events: users grouped by first-
    active week, distinct-user counts per week offset — the standard
    growth-analytics matrix. Two shuffles (per-user min, then per-cell
    distinct count); µs domain for DuckDB comparability."""
    e = (load_table(spark, sf_dir, "events")
         .select("user_id", F.expr("unix_micros(ts) div 604800000000")
                 .alias("week")))
    first = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    act = e.distinct()
    return (act.join(first, "user_id")
            .groupBy("cohort_week",
                     (F.col("week") - F.col("cohort_week"))
                     .alias("week_offset"))
            .agg(F.countDistinct("user_id").alias("n_users")))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit. The synthetic corpus carries no natural
    PII, so the query plants a deterministic email/URL/IP per row
    (pure concat — identical in DuckDB) and scrubs; output is the
    scrubbed-text digest + redaction count per doc."""
    from rel_db_to_graph_spark.operators.scrub import redaction_counts, scrub_pii
    d = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com via http://host.io/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" from 10.0.0.1"))
    return d.select(
        "doc_id",
        F.md5(scrub_pii(planted)).alias("scrub_digest"),
        redaction_counts(planted).alias("n_redactions"))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot dedup: docs with doc_id >= 400 are the 'new
    arrivals'; drop any whose fingerprint already exists in the old
    corpus (anti-join on digest) or earlier in the new batch (min
    doc_id wins). The composition every append-only corpus runs
    nightly; shuffles 32-char digests only."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))
    old = d.filter(F.col("doc_id") < 400)
    new = d.filter(F.col("doc_id") >= 400)
    fresh = new.join(old.select("fingerprint"), "fingerprint", "left_anti")
    return (fresh.groupBy("fingerprint")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", "fingerprint"))


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-scheduled weighted source interleave (src0 4x, src1 2x,
    rest 1x): first 200 stream items via TakeOrdered over the integer
    (pass, source, ordinal) order."""
    from rel_db_to_graph_spark.operators.mix import corpus_mix, mix_prefix
    d = load_table(spark, sf_dir, "documents")
    mixed = corpus_mix(d, "source", {"src0": 4, "src1": 2}, "doc_id")
    return (mix_prefix(mixed, 200)
            .select(F.col("key").alias("doc_id"), "source", "ordinal", "pass"))


def q_corpus_mix_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (tau=0.5) source mixing: WFQ virtual-time
    stream order with ceil(100*sqrt(n_s/max_n)) weights — first 200
    items (operators/mix.py::corpus_mix_temperature)."""
    from rel_db_to_graph_spark.operators.mix import corpus_mix_temperature
    d = load_table(spark, sf_dir, "documents")
    mixed = corpus_mix_temperature(d, "source", "doc_id", tau=0.5)
    return (mixed.orderBy("vtime", "source", "ordinal").limit(200)
            .select(F.col("key").alias("doc_id"), "source", "ordinal",
                    "weight", "vtime"))


def q_dense_ids_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only dense-id maintenance (operators/increment.py): the
    %3!=0 orders keys form yesterday's immutable mapping; today's full
    table appends the rest above max_id. CDC at 100 TB: incremental
    cost scales with the batch, not the graph."""
    from rel_db_to_graph_spark.operators.graph_build import dense_ids_scalable
    from rel_db_to_graph_spark.operators.increment import dense_ids_append
    orders = load_table(spark, sf_dir, "orders")
    snapshot = orders.filter(F.col("o_orderkey") % 3 != 0)
    existing = dense_ids_scalable(snapshot.select("o_orderkey"),
                                  "o_orderkey")
    return dense_ids_append(existing, orders, "o_orderkey")


def _cdc_snapshots(spark: SparkSession, sf_dir: str):
    """Deterministic old/new snapshot pair derived from orders: old is
    missing every 10th key and carries a doubled o_totalprice on every
    13th (the U rows); new is missing every 17th key (the D rows)."""
    o = load_table(spark, sf_dir, "orders")
    old = (o.filter(F.col("o_orderkey") % 10 != 0)
           .withColumn("o_totalprice",
                       F.when(F.col("o_orderkey") % 13 == 0,
                              F.col("o_totalprice") * 2)
                       .otherwise(F.col("o_totalprice"))))
    new = o.filter(F.col("o_orderkey") % 17 != 0)
    return old, new


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (operators/profile.py): per-column null count,
    exact distinct count, numeric/string min-max — computed for all six
    orders columns in ONE scan (fused wide aggregation + stack unpivot).
    The oracle profiles each column independently."""
    from rel_db_to_graph_spark.operators.profile import profile_table
    return profile_table(load_table(spark, sf_dir, "orders"))


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff (operators/increment.py): one full-outer join on the
    key + an xxhash64(to_json(struct(non-key cols))) row fingerprint
    (injection-proof: JSON field names key every value, microsecond
    timestampFormat) -> one row per changed key with op I/U/D. The
    oracle derives the SAME change set semantically (key membership +
    the perturbed column), so the fingerprint shortcut is what gets
    checked."""
    from rel_db_to_graph_spark.operators.increment import snapshot_diff
    old, new = _cdc_snapshots(spark, sf_dir)
    return snapshot_diff(old, new, "o_orderkey")


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (operators/increment.py): diff old->new, join the I/U
    payloads, merge into old — the result must equal the NEW snapshot
    exactly, and the oracle IS the new snapshot (fully independent:
    a wrong op classification, lost delete, or stale payload all
    hash-mismatch). Anti-join + union; batch-sized incremental cost."""
    from rel_db_to_graph_spark.operators.increment import (
        merge_upsert,
        snapshot_diff,
    )
    old, new = _cdc_snapshots(spark, sf_dir)
    diff = snapshot_diff(old, new, "o_orderkey")
    changes = diff.join(new, "o_orderkey", "left")
    merged = merge_upsert(old, changes, "o_orderkey")
    return merged.select("o_orderkey", "o_custkey", "o_orderstatus",
                         "o_totalprice")


def q_cdc_batch_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two batch-CDC operators consolidated into ONE registry slot
    (round 11 capacity, VERDICT r10 next-step #6 — the twins compose):
    variant 'diff' = snapshot_diff's (key, op) change set, variant
    'merge' = the merge_upsert-applied snapshot; columns the other
    variant doesn't produce ride as typed NULLs. Everything each
    original row checked is still checked under one hash."""
    diff = q_snapshot_diff(spark, sf_dir).select(
        F.lit("diff").alias("variant"), "o_orderkey", "op",
        F.lit(None).cast("long").alias("o_custkey"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"))
    merged = q_merge_upsert(spark, sf_dir).select(
        F.lit("merge").alias("variant"), "o_orderkey",
        F.lit(None).cast("string").alias("op"),
        "o_custkey", "o_orderstatus", "o_totalprice")
    return diff.unionByName(merged)


def q_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply under the driver gate (VERDICT r7 item 8 —
    the first driver-visible row that exercises streaming/ itself): the
    same old→new change set as q_merge_upsert, but the changes arrive
    as a BOUNDED STREAM — written to four parquet files, re-read with
    readStream + maxFilesPerTrigger=1, and drained availableNow through
    streaming/cdc.py::run_cdc_stream (foreachBatch applying
    merge_upsert per micro-batch to the maintained snapshot). Four real
    micro-batches hit the stateful sink; per-key ops are disjoint, so
    the final state equals a one-shot batch apply — and the oracle is
    the fully-independent NEW snapshot, exactly as for merge_upsert.

    Round 11 (VERDICT r10 missing #3): the SAME drained feed also
    maintains a bucket-partitioned parquet snapshot through
    streaming/cdc.py::PartitionedSnapshotMaintainer — the 100 TB MERGE
    shape (per batch: directory-pruned read of only the touched
    key-hash buckets, batch-sized merge, dynamic partition overwrite) —
    so the production path sits under the hash gate, not just pytest.
    Output is the tagged union of both maintainers' final snapshots;
    the oracle is layout-independent by construction (the NEW snapshot,
    doubled)."""
    import tempfile

    from rel_db_to_graph_spark.operators.increment import snapshot_diff
    from rel_db_to_graph_spark.streaming.cdc import (
        PartitionedSnapshotMaintainer,
        drain_available_now,
        run_cdc_stream,
    )

    old, new = _cdc_snapshots(spark, sf_dir)
    diff = snapshot_diff(old, new, "o_orderkey")
    changes = diff.join(new, "o_orderkey", "left")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/changes"
        changes.repartition(4).write.parquet(feed)
        stream = (spark.readStream.schema(changes.schema)
                  .option("maxFilesPerTrigger", 1).parquet(feed))
        sink = run_cdc_stream(stream, old, "o_orderkey",
                              query_name="cdc_stream_driver")
        part = PartitionedSnapshotMaintainer(
            spark, old, f"{tmp}/snap", "o_orderkey", n_buckets=8)
        stream2 = (spark.readStream.schema(changes.schema)
                   .option("maxFilesPerTrigger", 1).parquet(feed))
        drain_available_now(stream2, part.apply_batch,
                            "cdc_stream_part_driver")
        # the in-memory maintainer localCheckpoints eagerly per batch;
        # the partitioned snapshot lives under tmp — pin it before the
        # directory is cleaned up
        mem = sink.current().select(*cols)
        prt = part.current().select(*cols).localCheckpoint(eager=True)
    return (mem.select(F.lit("memory").alias("variant"), *cols)
            .unionByName(
                prt.select(F.lit("partitioned").alias("variant"), *cols)))


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed aggregation under the driver gate (round 8 —
    the watermark/window path itself, complementing cdc_stream's
    foreachBatch path): readStream over the events parquet → tumbling
    1h event-time window per event_type with a 2h watermark
    (streaming/events.py::hourly_counts_stream) → availableNow drain
    into a memory sink in complete mode. The final state must equal the
    batch aggregation — the oracle recomputes it independently in
    DuckDB (count + DECIMAL-exact value sums, the repo's float-parity
    convention). Scale note (ADVICE r8): watermark eviction applies in
    append/update output modes — the production configuration; the
    COMPLETE-mode drain used here retains the full (window ×
    event_type) state by definition, which is fine for a bounded test
    harness but is not the unbounded-stream shape."""
    import uuid

    from rel_db_to_graph_spark.streaming.events import (
        hourly_counts_stream,
        read_events_stream,
        run_available_now,
    )
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    run_available_now(
        hourly_counts_stream(read_events_stream(spark, sf_dir)), name)
    return spark.table(name)


def q_stream_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two remaining pytest-only streaming execution shapes under
    the driver gate in ONE registry slot (VERDICT r8 item 5, tagged-
    union pattern): the STREAM-STREAM interval join (streaming/join.py
    — two unbounded sides, watermark-bounded state, the only join kind
    whose state Spark can provably evict) and the applyInPandasWithState
    SESSIONIZER (streaming/stateful.py — arbitrary per-key state across
    micro-batches). Both drain availableNow over the SAME 4-file feed:
    the events table split into four TIME-RANGE files with strictly
    increasing mtimes, so the file source (which orders by modification
    time) delivers four real micro-batches in event-time order — the
    order-sensitive session state is then deterministic, and interval-
    join state eviction can never drop a pair (a click's partners all
    arrive within 10 min of it, far inside the 2 h watermark). Oracles
    are the independent batch twins: the pair-level range join and the
    lag-gap session reduction, computed by DuckDB from the raw table.
    Round 12 adds a THIRD tag, ``sessions_builtin`` (VERDICT r11
    missing #2): the PRODUCTION ``F.session_window`` sessionizer
    (session_windows_stream) drained append-mode over the same feed —
    closed per-(user, session) rows, emitted iff the final watermark
    (max event time − 2 h) passed the session end. Its twin is the
    same lag-gap session reduction at session granularity under the
    identical watermark cut, so the built-in path's merge/state/
    eviction semantics are now under the driver hash gate.
    Output is the tagged union (variant, k1, k2, k3, v):
    interval_join → (purchase_event_id, click_event_id, user_id,
    gap_us); sessions → (user_id, n_events, n_sessions, last_ts);
    sessions_builtin → (user_id, n_events, session_start_us,
    session_end_us)."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from rel_db_to_graph_spark.streaming.events import EVENTS_SCHEMA
    from rel_db_to_graph_spark.streaming.join import attribution_pairs_stream
    from rel_db_to_graph_spark.streaming.stateful import (
        running_user_sessions,
        session_windows_stream,
    )

    e = load_table(spark, sf_dir, "events")
    run_id = uuid.uuid4().hex[:8]
    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/feed"
        os.makedirs(feed)
        # four time-range files, mtime == delivery order (file source
        # processes oldest-mtime first; ntile over the total (ts,
        # event_id) order makes the split deterministic)
        w = Window.orderBy("ts", "event_id")
        quartiled = e.withColumn("_q", F.ntile(4).over(w))
        for i in range(1, 5):
            stage = f"{tmp}/stage{i}"
            (quartiled.filter(F.col("_q") == i).drop("_q")
             .coalesce(1).write.parquet(stage))
            src = glob.glob(f"{stage}/part-*.parquet")[0]
            dst = f"{feed}/batch_{i}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (i * 1000, i * 1000))

        def feed_stream() -> DataFrame:
            return (spark.readStream.schema(EVENTS_SCHEMA)
                    .option("maxFilesPerTrigger", 1).parquet(feed)
                    .withColumn("event_time", F.col("ts")))

        jname = f"stream_join_{run_id}"
        q = (attribution_pairs_stream(feed_stream())
             .writeStream.format("memory").queryName(jname)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        sname = f"stream_sessions_{run_id}"
        q = (running_user_sessions(feed_stream().select("user_id", "ts"))
             .writeStream.format("memory").queryName(sname)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
        # third variant (round 12, VERDICT r11 missing #2): the
        # PRODUCTION sessionizer — built-in F.session_window, JVM-side
        # merge/state/eviction (streaming/stateful.py:148; 5.9× the
        # stateful kernel on the sf10 feed) — drained append-mode over
        # the same feed. Append emits a session iff the FINAL watermark
        # (max event time − 2 h) passed its end; the DuckDB twin
        # replays the lag-gap sessions under the same cut.
        bname = f"stream_sessw_{run_id}"
        q = (session_windows_stream(feed_stream(), gap="30 minutes",
                                    watermark="2 hours")
             .writeStream.format("memory").queryName(bname)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    joined = spark.table(jname).select(
        F.lit("interval_join").alias("variant"),
        F.col("purchase_event_id").alias("k1"),
        F.col("click_event_id").alias("k2"),
        F.col("user_id").alias("k3"),
        F.col("gap_us").alias("v"))
    # update-mode memory sink appends every state update; the final
    # state per user is the row with the largest n_events (running
    # totals are strictly monotone per key per appearance)
    wf = Window.partitionBy("user_id").orderBy(F.desc("n_events"),
                                               F.desc("last_ts"))
    sessions = (spark.table(sname)
                .withColumn("_rn", F.row_number().over(wf))
                .filter("_rn = 1")
                .select(F.lit("sessions").alias("variant"),
                        F.col("user_id").alias("k1"),
                        F.col("n_events").alias("k2"),
                        F.col("n_sessions").alias("k3"),
                        F.col("last_ts").alias("v")))
    builtin = (spark.table(bname)
               .select(F.lit("sessions_builtin").alias("variant"),
                       F.col("user_id").alias("k1"),
                       F.col("n_events").alias("k2"),
                       F.unix_micros("session_start").alias("k3"),
                       F.unix_micros("session_end").alias("v")))
    return joined.unionByName(sessions).unionByName(builtin)


def q_graph_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental graph maintenance end-to-end (increment.py composed
    with the G3 edge build): yesterday's orders→customer edges are kept
    as-is under the immutable old mapping; the CDC batch (the %3==0
    keys) appends order ids above max_id and only ITS edges are built;
    the union must equal a from-scratch build over the merged mapping —
    which is exactly what the oracle computes. Incremental cost scales
    with the batch; old edges are never re-remapped."""
    from rel_db_to_graph_spark.operators.graph_build import dense_ids_scalable
    from rel_db_to_graph_spark.operators.increment import dense_ids_append

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cust_ids = dense_ids_scalable(customer.select("c_custkey"), "c_custkey")
    snap = orders.filter(F.col("o_orderkey") % 3 != 0)
    old_ids = dense_ids_scalable(snap.select("o_orderkey"), "o_orderkey")
    merged = dense_ids_append(old_ids, orders, "o_orderkey")

    old_edges = edges_dense(
        edge_pairs(spark, sf_dir, "orders", "o_orderkey", "o_custkey",
                   df=snap),
        old_ids, cust_ids)
    batch = orders.join(old_ids.select(F.col("pk").alias("o_orderkey")),
                        "o_orderkey", "left_anti")
    new_edges = edges_dense(
        edge_pairs(spark, sf_dir, "orders", "o_orderkey", "o_custkey",
                   df=batch),
        merged, cust_ids)
    return old_edges.unionAll(new_edges)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact one-row corpus profile (operators/stats.py). Percentiles
    at dyadic quantiles over integer token counts — bit-exact vs
    DuckDB's quantile_cont."""
    from rel_db_to_graph_spark.operators.stats import corpus_stats
    return corpus_stats(load_table(spark, sf_dir, "documents"))


def q_corpus_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier (HLL + approx percentiles) — rows-only by design:
    sketches estimate; accuracy is pinned by tests vs the exact tier."""
    from rel_db_to_graph_spark.operators.stats import corpus_stats_approx
    return corpus_stats_approx(load_table(spark, sf_dir, "documents"))


def q_corpus_stats_approx_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier accuracy audit (metric, exact, within_tol) — the
    DuckDB twin recomputes exact and asserts TRUE, so a sketch outside
    tolerance is a red driver row, not just a pytest failure."""
    from rel_db_to_graph_spark.operators.stats import corpus_stats_approx_err
    return corpus_stats_approx_err(load_table(spark, sf_dir, "documents"))


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (integer-quantized idf — see
    operators/stats.py::tfidf_keywords for why not float log)."""
    from rel_db_to_graph_spark.operators.stats import tfidf_keywords
    return tfidf_keywords(load_table(spark, sf_dir, "documents"), k=3)


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-example BM25 retrieval (round 12): each probe doc's
    top-3 TF-IDF keywords become the query; the 5 highest-BM25 corpus
    docs come back per probe — the lexical decontamination-triage
    shape next to the embedding ANN tier. Integer-rational scoring
    (k1=1.2, b=0.75 folded exact) so the DuckDB twin's ranking is
    bit-identical; the query table broadcasts onto the postings, so
    the probe is a pruned posting-list join, not a corpus shuffle
    (operators/stats.py::bm25_retrieval)."""
    from rel_db_to_graph_spark.operators.stats import bm25_retrieval
    return bm25_retrieval(load_table(spark, sf_dir, "documents"),
                          probe_ids=(0, 7, 42), n_query_terms=3, k=5)


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap (≤15 docs per source, content-addressed pick) —
    the anti-boilerplate curation primitive. 15 < the ~25 docs/source
    in the testdata, so the cap genuinely filters."""
    from rel_db_to_graph_spark.operators.sample import group_quota
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return group_quota(d, "source", cap=15, key_col="doc_id", seed=5)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation capstone in ONE lineage: learned quality
    filter (pinned LR) → language filter → exact-dedup survivorship →
    SemDeDup semantic survivors (embeddings vec_id == doc_id) →
    per-source quota. The composition every stage was built for; each
    stage is individually oracle-green, and this query pins that they
    compose without semantic drift."""
    from rel_db_to_graph_spark.ml.quality import score_quality
    from rel_db_to_graph_spark.operators.sample import group_quota
    from rel_db_to_graph_spark.operators.semantic import semantic_survivors

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    scored = (docs.select("doc_id", "lang", "source",
                          T.fingerprint(F.col("text")).alias("fingerprint"))
              .join(score_quality(docs), "doc_id"))
    kept = scored.filter((F.col("lang") == "en")
                         & (F.col("quality_p") > 0.5))
    surv = kept.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    dedup = kept.join(surv, ["fingerprint", "doc_id"])
    sem = semantic_survivors(emb, threshold=0.5, n_clusters=8, iters=3,
                             max_cluster=None)
    merged = dedup.join(
        sem.select(F.col("vec_id").alias("doc_id")), "doc_id")
    return group_quota(
        merged.select("doc_id", "source", "quality_p"), "source",
        cap=10, key_col="doc_id", seed=5)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/dsir.py): log importance weight
    = nll_raw - nll_target from two add-one-smoothed bigram LMs
    (target = lang 'en'), hash-thresholded acceptance at
    sigmoid(4 * logw / n_bigrams). One scoring pass over the corpus;
    LM state is vocabulary-bounded. Fully oracle-backed — the DuckDB
    twin retrains both LMs independently."""
    from rel_db_to_graph_spark.operators.dsir import dsir_select
    return dsir_select(load_table(spark, sf_dir, "documents"),
                       target=F.col("lang") == "en",
                       temperature=4.0, seed=11)


def q_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (operators/lm.py): per-doc add-one-
    smoothed negative log-likelihood — the CCNet-style learned-LM
    filter signal, decimal-summed 6dp terms for cross-engine
    exactness."""
    from rel_db_to_graph_spark.operators.lm import doc_nll
    return doc_nll(load_table(spark, sf_dir, "documents"))


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training, BATCHED (operators/bpe.py, round 6):
    up to 48 merges learned in rounds of 16 symbol-disjoint accepts —
    the job shape that scales to a realistic 32k vocabulary (rounds,
    not merges, cost a driver round-trip). HASH-CHECKED (was rows-only
    through r6): the DuckDB twin RETRAINS the tokenizer — unrolled
    rounds of pair counting, the same greedy batch-accept policy as
    scalar-CTE chains, and wrapped-string replace() rewrites that
    reproduce the greedy merge fold exactly (oracle.py::_bpe_parts) —
    and must emit the identical (step, left, right, pair_count) merge
    list. Also pinned against a pure-python twin in tests/test_bpe.py;
    batch=1 reproduces classic sequential BPE exactly. Round 12
    (VERDICT r11 ask 5): demo merges trimmed 100 → 48 — the
    merge-count-parametric twin unrolls one CTE chain per round, and
    the 100-merge replay was the correctness sweep's single heaviest
    row (~92 s DuckDB); 48 stays comfortably under this corpus's
    ~89-merge saturation while the sf1 2,000-merge scale proof lives
    in BASELINE.md."""
    from rel_db_to_graph_spark.operators.bpe import bpe_train_batched
    merges = bpe_train_batched(load_table(spark, sf_dir, "documents"),
                               n_merges=48, batch=16)
    return spark.createDataFrame(
        [(m["step"], m["left"], m["right"], m["pair_count"])
         for m in merges],
        "step int, left string, right string, pair_count long")


def q_bpe_train_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style BPE — NO pre-tokenization (round 7,
    operators/bpe.py::sequence_counts): whole normalized documents are
    the symbol sequences, spaces are symbols, merges cross word
    boundaries into phrases. This is the regime the sf1 2,000-merge
    scale proof runs (BASELINE.md) — the pretokenized path saturates on
    this corpus's ~40-word vocabulary, so realistic merge counts are
    only learnable here. 24 merges, batch 8. HASH-CHECKED (was
    rows-only through r6): the DuckDB twin retrains over the same
    whole-document sequences (oracle.py::_bpe_parts with
    pretokenize=False — spaces are symbols there too); also pinned
    against the python twin in
    tests/test_bpe.py::test_raw_mode_matches_python_twin."""
    from rel_db_to_graph_spark.operators.bpe import bpe_train_batched
    merges = bpe_train_batched(load_table(spark, sf_dir, "documents"),
                               n_merges=24, batch=8, pretokenize=False)
    return spark.createDataFrame(
        [(m["step"], m["left"], m["right"], m["pair_count"])
         for m in merges],
        "step int, left string, right string, pair_count long")


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer application: learn 48 batched merges, then
    tokenize the whole corpus with the RANK-based Arrow tokenizer (the
    vocab-scale path — the merge table ships once as a rank dict; the
    fold-expression path would blow codegen at real vocabulary sizes).
    Returns (doc_id, n_pieces). HASH-CHECKED (was rows-only through
    r6): the DuckDB twin retrains the merges AND tokenizes — its final
    rewritten word table IS the piece-count map (rank-based inference
    == the in-training-order fold because later merges cannot create
    earlier merges' pairs; oracle.py::_bpe_tokenize_sql). The ranked
    tokenizer is also equality-pinned against the fold path and the
    python twin in tests/test_bpe.py. Round 12: merges trimmed
    100 → 48 with q_bpe_train (VERDICT r11 ask 5 — halves the twin's
    replay cost; the rank-dict inference path is merge-count-
    independent in shape)."""
    from rel_db_to_graph_spark.operators.bpe import (
        bpe_tokenize_ranked,
        bpe_train_batched,
    )
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train_batched(docs, n_merges=48, batch=16)
    return bpe_tokenize_ranked(docs, merges)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spans: 40-char normalized windows at
    stride 10 shared by >=2 docs (operators/dedup.py::duplicated_spans)
    — the which-passages-are-copied complement to MinHash whole-doc
    near-dup."""
    from rel_db_to_graph_spark.operators.dedup import duplicated_spans
    return duplicated_spans(load_table(spark, sf_dir, "documents"))


def q_term_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter audit: depth x width counters in
    one pass, min-over-rows estimates for the exact top-20 terms, and
    the est>=exact upper-bound guarantee as an asserted column
    (operators/stats.py::cms_audit)."""
    from rel_db_to_graph_spark.operators.stats import cms_audit
    # width 32 (not the production 256) so collisions are VISIBLE at
    # this vocabulary size: some est_n > exact_n, upper bound still true
    return cms_audit(load_table(spark, sf_dir, "documents"), k=20,
                     width=32)


def q_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate z-score anomalies vs the trailing 6h window
    per event_type (operators/events.py::rate_anomalies)."""
    from rel_db_to_graph_spark.operators.events import rate_anomalies
    return rate_anomalies(load_table(spark, sf_dir, "events"))


def q_term_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over the corpus vocabulary."""
    from rel_db_to_graph_spark.operators.stats import term_topk
    return term_topk(load_table(spark, sf_dir, "documents"), k=20)


def q_token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk token packing (budget 512) over whitespace
    token counts — per-doc placement via the bucketed no-total-sort
    cumsum (operators/pack.py)."""
    from rel_db_to_graph_spark.operators.pack import pack_documents
    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", T.token_count(T.normalize(F.col("text"))).alias("n_tokens"))
    return (pack_documents(counted, "n_tokens", "doc_id", budget=512)
            .withColumnRenamed("key", "doc_id"))


def q_chunk_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report: per 512-token chunk, resident doc
    count and exact token attribution (straddlers contribute their
    overlap)."""
    from rel_db_to_graph_spark.operators.pack import chunk_fill, pack_documents
    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", T.token_count(T.normalize(F.col("text"))).alias("n_tokens"))
    return chunk_fill(pack_documents(counted, "n_tokens", "doc_id",
                                     budget=512), budget=512)


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling (round 7 — replaces the md5-arithmetic
    stub): payloads carry genuine RIFF/AVI containers and the 4
    evenly-spaced frames per doc are EXTRACTED from the movi list's
    '00dc' chunks — timestamp from the stream clock, actual chunk
    length, and payload byte sum. The oracle recomputes all of it
    arithmetically from doc_id, so a mis-walked chunk list or
    off-by-one in the uniform-sampling index hash-mismatches."""
    from rel_db_to_graph_spark.operators.multimodal import (
        attach_video_payload,
        sample_frames,
    )
    d = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_video_payload(d), k=4)


def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AVI/RIFF decode (closes the video modality the way round 6
    closed images and round 7 closed audio): payloads carry genuine
    AVI containers (nested LIST chunks: hdrl→avih/strl→strh/strf,
    movi→frame chunks) with doc_id-deterministic geometry; the Spark
    side walks the RIFF tree with struct.unpack, recursing into LISTs,
    and totals the actual frame-chunk payload bytes. Every 17th doc is
    truncated (quarantine-row path). The oracle recomputes container
    byte length, dimensions, fps, duration AND total frame bytes
    arithmetically from doc_id."""
    from rel_db_to_graph_spark.operators.multimodal import (
        attach_video_payload,
        decode_video_meta,
    )
    media = attach_video_payload(load_table(spark, sf_dir, "documents"))
    return decode_video_meta(media)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id < 10 act as the
    'eval set'; training docs (id >= 10) sharing any word 5-gram with
    it are flagged with their overlap count."""
    d = load_table(spark, sf_dir, "documents")
    return D.decontaminate(d.filter(F.col("doc_id") >= 10),
                           d.filter(F.col("doc_id") < 10), n=5)


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified content-addressed corpus sample: per-language keep
    rates compiled to one map-only CASE filter (operators/sample.py).
    The draw is md5-derived over a 2^32 denominator, so the emitted
    double is bit-identical in DuckDB."""
    from rel_db_to_graph_spark.operators.sample import hash_draw, stratified_sample
    d = load_table(spark, sf_dir, "documents")
    sampled = stratified_sample(
        d, strata_col="lang",
        rates={"en": 0.25, "de": 1.0, "fr": 0.5},
        key_col="doc_id", default_rate=0.1, seed=7)
    return sampled.select(
        "doc_id", "lang", hash_draw(F.col("doc_id"), 7).alias("draw"))


def q_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic sample (reservoir twin): 50 smallest
    content-addressed draws — runs as TakeOrdered, no total sort."""
    from rel_db_to_graph_spark.operators.sample import sample_topk
    d = load_table(spark, sf_dir, "documents")
    return sample_topk(d, k=50, key_col="doc_id", seed=3).select(
        "doc_id", "draw")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> duplicate CLUSTERS: connected components over
    the LSH+Jaccard pair graph, canonical survivor per cluster. The
    step that makes the dedup pipeline actionable (drop every doc with
    keep = 0). Oracle: recursive-CTE transitive closure in DuckDB."""
    from rel_db_to_graph_spark.operators.components import duplicate_clusters
    # max_bucket=None: oracle twin computes exhaustive pairs (see
    # q_near_dup_pairs) — keep parity data-independent.
    pairs = D.near_duplicate_pairs(load_table(spark, sf_dir, "documents"),
                                   threshold=0.5, max_bucket=None)
    return duplicate_clusters(pairs).select(
        "doc_id", "cluster_id", "n_members",
        F.col("keep").cast("int").alias("keep"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard between consecutive doc pairs (id, id+1) —
    the token-level similarity measure, linear in corpus size."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id",
                      T.tokens(T.normalize(F.col("text"))).alias("_toks"))
    staged = staged.localCheckpoint(eager=True)   # bind _toks (see word_ngrams)
    grams = staged.select(
        "doc_id",
        F.array_distinct(D.word_ngrams(F.col("_toks"), 3)).alias("gset"))
    a = grams.select(F.col("doc_id").alias("id_a"), F.col("gset").alias("ga"))
    b = grams.select(F.col("doc_id").alias("id_b"), F.col("gset").alias("gb"))
    return (a.join(b, a.id_a + 1 == b.id_b)
            .select("id_a", "id_b",
                    F.round(D.jaccard(F.col("ga"), F.col("gb")), 6)
                    .alias("ngram_jaccard")))


# ---------------------------------------------------------------- similarity

def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(load_table(spark, sf_dir, "embeddings"), query_id=0)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_topk(load_table(spark, sf_dir, "embeddings"), query_id=0)


def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact ANN: nearest neighbours of vec 0 among
    label=3 vectors only (pre-filtered, pushes to the scan)."""
    from rel_db_to_graph_spark.operators.similarity import filtered_topk
    e = load_table(spark, sf_dir, "embeddings")
    return filtered_topk(e, query_id=0, predicate=F.col("label") == 3, k=10)


def q_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: top-5 per query for queries {0,1,2} in one corpus
    pass (broadcast queries + per-query window rank)."""
    from rel_db_to_graph_spark.operators.similarity import batch_topk
    e = load_table(spark, sf_dir, "embeddings")
    return batch_topk(e, query_ids=[0, 1, 2], k=5)


def q_ann_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed, metadata-filtered, and batched ANN in ONE
    registry query (driver-window capacity consolidation, VERDICT r6
    item 3): the three variants' results union with a tag column, so
    each keeps its own oracle-checked semantics while costing one
    window slot instead of three. Per-variant plans are unchanged —
    the union is lazy branches, not a fused scan (each branch keeps
    its own broadcast/TakeOrdered shape)."""
    from rel_db_to_graph_spark.operators.similarity import (
        batch_topk,
        filtered_topk,
        lsh_topk,
    )
    e = load_table(spark, sf_dir, "embeddings")
    tag = lambda df, name: df.select(  # noqa: E731
        F.lit(name).alias("variant"),
        F.col("query_id") if "query_id" in df.columns
        else F.lit(0).cast("long").alias("query_id"),
        "vec_id", "score",
        F.col("rnk") if "rnk" in df.columns
        else F.lit(None).cast("int").alias("rnk"))
    return (tag(lsh_topk(e, query_id=0), "lsh")
            .unionByName(tag(filtered_topk(
                e, query_id=0, predicate=F.col("label") == 3, k=10),
                "filtered"))
            .unionByName(tag(batch_topk(e, query_ids=[0, 1, 2], k=5),
                             "batch")))


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification (operators/similarity.py):
    top-10 cosine neighbors per query in one corpus pass, label join,
    deterministic vote argmax (votes desc, label asc). Oracle-backed —
    the DuckDB twin recomputes neighbors and votes from scratch."""
    from rel_db_to_graph_spark.operators.similarity import knn_classify
    return knn_classify(load_table(spark, sf_dir, "embeddings"),
                        query_ids=[0, 1, 2, 3, 4, 5, 6, 7], k=10)


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket=None: oracle twin computes exhaustive same-bucket pairs
    # (see q_near_dup_pairs) — keep parity data-independent.
    # gemm_min_pairs=20: at sf0.01 the sign buckets hold 1-6 vectors
    # (1-36 pair rows), so this cut routes the larger buckets through
    # the Arrow GEMM cell kernel and keeps the smaller ones on the
    # scalar pair join — BOTH kernels sit under this one hash row, the
    # same both-paths convention as semantic_dedup (round 9).
    return embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"),
                                    threshold=0.2, max_bucket=None,
                                    gemm_min_pairs=20)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (rows-only; iterative k-means → not SQL-expressible):
    centroid-partitioned top-k, the partition-pruned scale path."""
    from rel_db_to_graph_spark.operators.ivf import ivf_topk
    return ivf_topk(load_table(spark, sf_dir, "embeddings"), query_id=0,
                    k=10, n_clusters=8, nprobe=4)


def q_quality_lr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter, scoring pass (ml/quality.py): the
    IRLS-trained logistic classifier folded into the plan as literals —
    map-only, oracle-exact."""
    from rel_db_to_graph_spark.ml.quality import score_quality
    return score_quality(load_table(spark, sf_dir, "documents"))


def q_quality_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter, TRAINING pass — IRLS over DataFrame
    Gram/gradient reductions; returns the per-iteration accuracy
    history. HASH-CHECKED (was rows-only through r6): the DuckDB twin
    RETRAINS the classifier — the full Newton loop unrolled into CTE
    chains, normal equations solved by generated Gaussian elimination
    (oracle.py::_quality_lr_train_sql). The accuracy history is
    integer-derived (correct/n), so the match is robust to sum-order /
    solver last-ulp divergence while still pinning every iteration's
    decision boundary."""
    from rel_db_to_graph_spark.ml.quality import train_quality_irls
    m = train_quality_irls(load_table(spark, sf_dir, "documents"), iters=6)
    return spark.createDataFrame(
        [(h["iter"], float(h["acc"])) for h in m.history],
        "iter int, acc double")


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): m=4 subspace
    codebooks of 8 codes, ADC top-10 by estimated squared distance —
    the compressed-corpus scale path (64x smaller scan than floats)."""
    from rel_db_to_graph_spark.operators.pq import pq_topk
    return pq_topk(load_table(spark, sf_dir, "embeddings"), query_id=0,
                   k=10, m=4, n_codes=8, iters=2)


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed (FAISS-style): coarse clusters prune WHICH rows
    are scanned, PQ codes shrink WHAT each row costs — ADC top-10 over
    the probed clusters only."""
    from rel_db_to_graph_spark.operators.pq import ivfpq_topk
    return ivfpq_topk(load_table(spark, sf_dir, "embeddings"), query_id=0,
                      k=10, n_clusters=8, nprobe=4, m=4, n_codes=8,
                      iters=2)


def q_ann_index_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three INDEXED ANN tiers — IVF (centroid-pruned scan), PQ
    (compressed-code ADC scan), IVF+PQ (both prunings composed, the
    FAISS-style 100 TB shape) — in ONE registry slot (driver-window
    capacity consolidation, VERDICT r8 item 2; the q_ann_variants
    tagged-union pattern). Each branch keeps its own plan and its own
    retrained-k-means DuckDB twin semantics; `score` carries the
    branch's native metric (cosine for IVF, estimated squared distance
    for the ADC tiers) — the tag disambiguates exactly as the separate
    slots did.

    Round 12 adds the fourth tier, `ivf_append` — assign-only index
    MAINTENANCE (operators/ivf.py::ivf_append): the index is built on
    the first ~80% of the id space (the existing corpus), the remaining
    ~20% are appended with the centroids FROZEN (one argmin pass over
    only the new rows — the O(|batch|·k·d) daily-ingest shape at
    100 TB, vs the O(iters·n·k·d) rebuild), and the same top-k probe
    answers over the unioned assignment. The DuckDB twin retrains
    k-means on the base slice and replays the frozen-centroid placement
    of the appended slice, so the hash match certifies the maintenance
    path end to end.

    Round 12 adds a sixth tag, `ivf_append_stream` — the CONTINUOUS
    form of the same maintenance (streaming/vector_ingest.py): the
    appended slice arrives as a 4-file Structured Streaming feed
    (maxFilesPerTrigger=1), each micro-batch is placed frozen via
    foreachBatch, and the accumulated assignment answers the identical
    probe. The frozen placement is a deterministic per-row map, so the
    result is BATCHING-INVARIANT — the tag hash-checks against the
    same replay twin as the batch tag, certifying the streaming ingest
    plumbing end to end.

    Round 12 also adds the fifth tier, `ivfpq_append` — the same
    maintenance shape for the COMPRESSED index family
    (operators/pq.py::ivfpq_append): coarse centroids AND codebooks
    trained on the base slice, the appended slice placed+encoded with
    both FROZEN (one argmin map pass each), then the ADC probe answers
    over the unioned codes. The twin replays the frozen-quantizer
    placement and encode of the appended slice, so the 100 TB
    daily-ingest shape is hash-gated for both index families."""
    from rel_db_to_graph_spark.functions.vector import cosine
    from rel_db_to_graph_spark.operators.ivf import (
        build_ivf_index,
        ivf_append,
        ivf_topk,
        nearest_centroid_ids,
    )
    from rel_db_to_graph_spark.operators.pq import (
        adc_estimate,
        encode_pq,
        ivfpq_append,
        ivfpq_topk,
        pq_topk,
        train_pq,
    )
    e = load_table(spark, sf_dir, "embeddings")

    def tag(df: DataFrame, name: str, score_col: str) -> DataFrame:
        return df.select(F.lit(name).alias("variant"), F.col("vec_id"),
                         F.col(score_col).alias("score"))

    # The six tiers are INDEPENDENT pipelines that meet only at the
    # final union, and each runs real driver-side jobs during
    # CONSTRUCTION (Lloyd-training collects, the micro-batch streaming
    # drain) — serially those jobs were this row's entire ~35 s cost at
    # sf0.01. Optimization round 13 (guide §2.6): the branches are
    # constructed from a small driver thread pool so one tier's
    # training jobs back-fill cores another tier's collects leave idle.
    # Every branch's arithmetic is self-contained and deterministic, no
    # session confs are mutated on any path, and the shared inputs
    # (cut, qv) are computed once up front — the returned rows are
    # bit-identical to the serial construction (hash-gated).
    cut = (e.agg(F.max("vec_id").alias("m")).collect()[0]["m"] * 4) // 5
    # query vector: vec 0's double-cast embedding. Previously read back
    # from the append branch's checkpointed assignment; the checkpoint
    # holds exactly to_double(embedding) for that row, so this is the
    # same floats — computed up front so the ivfpq_append branch does
    # not have to wait on the ivf_append training.
    from rel_db_to_graph_spark.functions.vector import to_double
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0)
          .select(to_double(F.col("embedding")).alias("_v"))
          .collect()[0]["_v"]]
    qlit = F.array(*[F.lit(float(x)) for x in qv])

    def branch_ivf() -> DataFrame:
        return ivf_topk(e, query_id=0, k=10, n_clusters=8, nprobe=4)

    def branch_pq() -> DataFrame:
        return pq_topk(e, query_id=0, k=10, m=4, n_codes=8, iters=2)

    def branch_ivfpq() -> DataFrame:
        return ivfpq_topk(e, query_id=0, k=10, n_clusters=8, nprobe=4,
                          m=4, n_codes=8, iters=2)

    def branch_append() -> tuple[DataFrame, DataFrame]:
        # ivf_append: id-range split (appends arrive as NEW ids), then
        # the SAME append slice drained as a 4-file stream, placed
        # frozen per micro-batch (foreachBatch), probed identically —
        # batching-invariance is the check
        import os
        import tempfile

        from rel_db_to_graph_spark.streaming.vector_ingest import (
            StreamingIndexAppender,
        )

        assigned, cents = build_ivf_index(
            e.filter(F.col("vec_id") <= cut), k=8, iters=3)
        au = ivf_append(assigned, cents, e.filter(F.col("vec_id") > cut))
        probe = nearest_centroid_ids(list(enumerate(cents)), qv, 4)
        appended = (au.filter(F.col("cluster").isin(probe))
                    .filter(F.col("vec_id") != 0)
                    .select("vec_id",
                            F.round(cosine(F.col("_v"), qlit), 6)
                            .alias("score"))
                    .orderBy(F.desc("score"), F.col("vec_id")).limit(10))

        en_df = e.filter(F.col("vec_id") > cut)
        with tempfile.TemporaryDirectory() as tmp:
            feed = f"{tmp}/feed"
            os.makedirs(feed)
            span = en_df.agg(F.min("vec_id").alias("lo"),
                             F.max("vec_id").alias("hi")).collect()[0]
            step = max(1, (span["hi"] - span["lo"] + 4) // 4)
            for i in range(4):
                lo = span["lo"] + i * step
                hi = span["hi"] if i == 3 else lo + step - 1
                (en_df.filter(F.col("vec_id").between(lo, hi))
                 .coalesce(1).write.mode("append").parquet(feed))
            appender = StreamingIndexAppender(assigned, cents)
            q = (spark.readStream.schema(e.schema)
                 .option("maxFilesPerTrigger", 1).parquet(feed)
                 .writeStream.foreachBatch(appender.apply)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        aus = appender.assignment
        appended_stream = (aus.filter(F.col("cluster").isin(probe))
                           .filter(F.col("vec_id") != 0)
                           .select("vec_id",
                                   F.round(cosine(F.col("_v"), qlit), 6)
                                   .alias("score"))
                           .orderBy(F.desc("score"), F.col("vec_id"))
                           .limit(10))
        return appended, appended_stream

    def branch_ivfpq_append() -> DataFrame:
        # same id-range split, BOTH quantizers trained on the base
        # slice (iters=2, the ivfpq tier's config), the appended slice
        # placed+encoded frozen, ADC probe over the union
        eb = e.filter(F.col("vec_id") <= cut)
        assigned2, cents2 = build_ivf_index(eb, k=8, iters=2)
        books2 = train_pq(eb, m=4, k=8, iters=2)
        codes_b = encode_pq(eb, books2)
        codes_u, au2 = ivfpq_append(codes_b, assigned2, books2, cents2,
                                    e.filter(F.col("vec_id") > cut))
        probe2 = nearest_centroid_ids(list(enumerate(cents2)), qv, 4)
        return (codes_u
                .join(au2.select("vec_id", "cluster"), "vec_id")
                .filter(F.col("cluster").isin(probe2))
                .filter(F.col("vec_id") != 0)
                .select("vec_id",
                        F.round(adc_estimate(books2, qv), 6)
                        .alias("adist"))
                .orderBy("adist", "vec_id").limit(10))

    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=5) as pool:
        f_ivf = pool.submit(wrap(branch_ivf))
        f_pq = pool.submit(wrap(branch_pq))
        f_ivfpq = pool.submit(wrap(branch_ivfpq))
        f_app = pool.submit(wrap(branch_append))
        f_pqapp = pool.submit(wrap(branch_ivfpq_append))
        appended, appended_stream = f_app.result()
        appended_pq = f_pqapp.result()
        tiers = (f_ivf.result(), f_pq.result(), f_ivfpq.result())

    return (tag(tiers[0], "ivf", "score")
            .unionByName(tag(tiers[1], "pq", "adist"))
            .unionByName(tag(tiers[2], "ivfpq", "adist"))
            .unionByName(tag(appended, "ivf_append", "score"))
            .unionByName(tag(appended_stream, "ivf_append_stream",
                             "score"))
            .unionByName(tag(appended_pq, "ivfpq_append", "adist")))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: deterministic k-means clusters +
    within-cluster cosine pruning (drop any vector with a >=threshold
    lower-id neighbour in its cluster). max_cluster=None: the oracle
    twin computes exhaustive within-cluster pairs (see q_near_dup_pairs
    for the parity convention); production callers keep the capped
    default. gemm_min_pairs=20_000 (vs the production 1M cut) routes
    the larger sf0.01 clusters through the Arrow GEMM cell kernel while
    the smaller ones keep the scalar pair join — BOTH kernels produce
    rows this one hash-checked query verifies."""
    from rel_db_to_graph_spark.operators.semantic import semantic_dedup
    return semantic_dedup(load_table(spark, sf_dir, "embeddings"),
                          threshold=0.2, n_clusters=8, iters=3,
                          max_cluster=None, gemm_min_pairs=20_000)


# ---------------------------------------------------------------- multimodal

def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning capstone: quality-filter + language-filter +
    exact-dedup survivorship in one pipeline — the realistic composition
    of the text operators (keep en docs of decent quality, one doc per
    fingerprint, lowest doc_id wins)."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang",
        T.fingerprint(F.col("text")).alias("fingerprint"),
        F.round(T.quality_score(F.col("text")), 6).alias("quality"))
    kept = scored.filter((F.col("lang") == "en") & (F.col("quality") > 0.5))
    survivors = (kept.groupBy("fingerprint")
                 .agg(F.min("doc_id").alias("doc_id")))
    return (kept.join(survivors, ["fingerprint", "doc_id"])
            .select("doc_id", "fingerprint", "quality"))


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic event-funnel: per user, did a view precede a click
    ('purchase' here) — counts of users reaching each stage. Exercises
    conditional aggregation over event-time ordering."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("first_view").isNotNull(), 1).otherwise(0))
        .alias("n_viewed"),
        F.sum(F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0))
        .alias("n_purchased"),
        F.sum(F.when(F.col("first_view") < F.col("first_purchase"), 1).otherwise(0))
        .alias("n_converted"),
    )


def q_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICTLY-SEQUENTIAL 3-step funnel: view → first click AT/AFTER
    that view → first purchase at/after that click (q_events_funnel is
    the 2-step unordered variant). Each stage is one groupBy(user)
    min-aggregation seeded by the previous stage's timestamp — k stages
    = k user-keyed shuffles over progressively smaller frames (each
    stage filters to users who reached the previous one), the standard
    product-analytics funnel shape at any scale.

    The 3-column event projection is persisted: four consumers (three
    stages + the distinct-user base) otherwise each rescan the events
    parquet — at 100 TB that's 4 full scans for one funnel. The cache is
    keyed on the logical plan, so repeated calls reuse one entry."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts").persist()
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (e.filter(F.col("event_type") == "click").join(v, "user_id")
         .filter(F.col("ts") >= F.col("t_view"))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (e.filter(F.col("event_type") == "purchase").join(c, "user_id")
         .filter(F.col("ts") >= F.col("t_click"))
         .groupBy("user_id").agg(F.min("ts").alias("t_buy")))
    return (e.select("user_id").distinct()
            .join(v, "user_id", "left")
            .join(c, "user_id", "left")
            .join(p, "user_id", "left")
            .agg(F.count("*").alias("n_users"),
                 F.count("t_view").alias("n_view"),
                 F.count("t_click").alias("n_click_after_view"),
                 F.count("t_buy").alias("n_purchase_after_click")))


def q_funnel_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH event funnels in ONE registry slot (driver-window capacity
    consolidation, round 8 — the q_ann_variants tagged-union pattern):
    the 2-step unordered funnel (first-view/first-purchase conditional
    aggregation) and the strictly-sequential 3-step view→click→purchase
    funnel, each keeping its own oracle-checked semantics under generic
    stage column names. Branch plans are unchanged — the union is two
    independent single-row aggregates."""
    unordered = q_events_funnel(spark, sf_dir).select(
        F.lit("unordered").alias("variant"), "n_users",
        F.col("n_viewed").alias("stage1_n"),
        F.col("n_purchased").alias("stage2_n"),
        F.col("n_converted").alias("stage3_n"))
    ordered = q_funnel_ordered(spark, sf_dir).select(
        F.lit("ordered").alias("variant"), "n_users",
        F.col("n_view").alias("stage1_n"),
        F.col("n_click_after_view").alias("stage2_n"),
        F.col("n_purchase_after_click").alias("stage3_n"))
    return unordered.unionByName(ordered)


def q_layout_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout maintenance: compact the documents table into 4
    range-clustered internally-sorted parquet files, then audit the
    result — one row: (n_files, n_rows, range_overlaps), every field
    measured from the ACTUAL rewritten files (directory listing, file
    row counts, per-file sort-key [min,max] footer spans). Hash-checked
    against an invariant oracle (was rows-only through r6): correct
    compaction means exactly 4 files, row conservation vs the source
    table, and 0 range overlaps — the disjoint spans are exactly
    what makes parquet row-group pruning effective after compaction.
    The rewrite is a RangePartitioning exchange + partition-local sorts
    (plan-pinned in tests/test_layout.py — never a global sort)."""
    import tempfile

    from rel_db_to_graph_spark.sources.layout import (
        compact_sorted,
        layout_stats,
    )
    d = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        out = f"{tmp}/docs_compacted"
        compact_sorted(d, ["doc_id"], out, n_files=4)
        stats = layout_stats(spark, out, "doc_id").collect()
    spans = sorted((r.key_min, r.key_max) for r in stats)
    overlaps = sum(1 for (a, b) in zip(spans, spans[1:]) if a[1] >= b[0])
    return spark.createDataFrame(
        [(len(stats), int(sum(r.n_rows for r in stats)), overlaps)],
        "n_files int, n_rows long, range_overlaps int")


def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): per-group, per-flag subtotal
    and grand total in one pass (Catalyst Expand + single hash agg — no
    multi-scan union). Subtotal NULLs are folded to 'ALL' so the oracle
    hash never depends on NULL representation."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"),
             _dec_sum(F.col("l_quantity"), "sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows", "sum_qty")
    )


def q_cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping combinations
    (both, each alone, grand total) in one pass — same Expand + single
    hash-agg plan as ROLLUP with one more grouping set. NULL subtotals
    folded to 'ALL' as in q_rollup_pricing."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"),
             _dec_sum(F.col("l_quantity"), "sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows", "sum_qty")
    )


def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window: each customer's top-3 orders by price. Ties are
    broken by o_orderkey so row_number is total and deterministic. The
    window sort is local to its hash partition (one shuffle on custkey)
    and rank<=3 prunes before any downstream op — the scalable top-n
    shape, vs. a global sort or per-key collect."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
    )


ATTRIBUTION_WINDOW_US = 600_000_000  # 10 minutes


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (custom operator): for each purchase, count the
    same user's clicks in the trailing 10-minute window. µs domain
    (unix_micros) for DuckDB comparability, as in sessionize/asof."""
    e = load_table(spark, sf_dir, "events") \
        .withColumn("ts_us", F.unix_micros(F.col("ts")))
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        (F.col("ts_us") - F.lit(ATTRIBUTION_WINDOW_US)).alias("w_start"),
        F.col("ts_us").alias("w_end"))
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("c_ts"))
    pairs = range_join(clicks, purchases, on="user_id", ts_col="c_ts",
                       start_col="w_start", end_col="w_end",
                       bucket_width=ATTRIBUTION_WINDOW_US)
    counts = pairs.groupBy("event_id").agg(F.count("*").alias("n_clicks"))
    return purchases.join(counts, "event_id", "left").select(
        F.col("event_id").alias("purchase_event_id"), "user_id",
        F.coalesce("n_clicks", F.lit(0)).cast("long").alias("n_clicks"))


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-header decode (round 6 — replaces the md5-arithmetic
    stub): payloads carry genuine PNG/JPEG/GIF container headers (built
    from doc_id-deterministic dimensions, every 17th doc truncated),
    and the Spark side parses the BYTES — signature match, big/little-
    endian dimension fields, JPEG segment walk to SOF0. The oracle
    reproduces the expected metadata arithmetically from doc_id, so a
    mis-read offset or endianness bug hash-mismatches. Corrupt payloads
    become error rows, never task failures."""
    from rel_db_to_graph_spark.operators.multimodal import (
        attach_image_payload,
        decode_image_meta,
    )
    media = attach_image_payload(load_table(spark, sf_dir, "documents"))
    return decode_image_meta(media)


def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV/RIFF decode (closes the audio modality the way round 6
    closed images — VERDICT r6 next item 7): payloads carry genuine
    RIFF/WAVE containers with doc_id-deterministic PCM16 samples, every
    17th doc truncated; the Spark side walks the chunk list with
    struct.unpack and computes the PCM RMS from the bytes. The oracle
    recomputes byte length, duration AND the RMS arithmetically from
    doc_id (generate_series over sample indexes), so a mis-read chunk
    offset, endianness bug, or sample-decode error hash-mismatches."""
    from rel_db_to_graph_spark.operators.multimodal import (
        attach_audio_payload,
        decode_audio_meta,
    )
    media = attach_audio_payload(load_table(spark, sf_dir, "documents"))
    return decode_audio_meta(media)


# ---------------------------------------------------------------- events

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_rollup(load_table(spark, sf_dir, "events"))


def q_hourly_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_hourly + stream_hourly consolidated into ONE registry
    slot (round 10 capacity, the tagged-union pattern): the BATCH
    tumbling-1h rollup (operators/events.py::hourly_rollup — with
    countDistinct users) and the STREAMING windowed aggregation
    (streaming/events.py::hourly_counts_stream — watermark + window,
    availableNow complete-mode drain; countDistinct is not legal in a
    streaming agg, so n_users is NULL there) over the same events
    table. Their final states must agree on the shared columns; the
    oracle recomputes both halves independently. Output:
    (variant, event_type, hour, n_events, n_users, sum_value).
    Composes the ORIGINAL q_events_hourly / q_stream_hourly (single
    source of truth — review r10: reimplementing either half here
    would let the live logic and the consolidated slot diverge)."""
    batch = q_events_hourly(spark, sf_dir).select(
        F.lit("batch").alias("variant"), "event_type", "hour",
        "n_events", "n_users", "sum_value")
    stream = q_stream_hourly(spark, sf_dir).select(
        F.lit("stream").alias("variant"), "event_type", "hour",
        "n_events", F.lit(None).cast("long").alias("n_users"),
        "sum_value")
    return batch.unionByName(stream)


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no native one): attribute
    each click to the same user's most recent prior-or-equal view.
    gap_us works in the µs domain (unix_micros — the parquet stores
    timestamp[us] natively)."""
    e = load_table(spark, sf_dir, "events") \
        .withColumn("ts_us", F.unix_micros(F.col("ts")))
    clicks = e.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts_us")
    views = e.filter(F.col("event_type") == "view") \
        .select("event_id", "user_id", "ts_us")
    # match in the µs domain (like sessionize/attribution): DuckDB only
    # sees µs-truncated timestamps, so sub-µs components must not decide
    # which rows match
    j = asof_join(clicks, views, on="user_id", ts_col="ts_us",
                  payload={"event_id": "view_event_id", "ts_us": "_vts"},
                  tiebreak="view_event_id")
    return j.select(
        F.col("event_id").alias("click_event_id"), "user_id",
        "view_event_id",
        (F.col("ts_us") - F.col("_vts")).cast("long").alias("gap_us"))


# ------------------------------------------------------- graph analytics

#: shared co-purchase projection (VERDICT r5 item 5): six analytics
#: queries project the SAME basket graph from lineitem; computing it
#: once per (app, sf_dir) and localCheckpointing saves the two-shuffle
#: projection on every subsequent query. min_count=1 is cached and
#: thresholded tiers derive by filter (w >= k ⊂ w >= 1). Bounded like
#: graph_build._GRAPH_CACHE: oldest entry evicted beyond 2.
_COPURCHASE_CACHE: dict[tuple, DataFrame] = {}


def _copurchase_base(spark: SparkSession, sf_dir: str,
                     max_basket: int = 64) -> DataFrame:
    from rel_db_to_graph_spark.operators.graph_analytics import (
        copurchase_edges,
    )
    key = (spark.sparkContext.applicationId, sf_dir, max_basket)
    if key not in _COPURCHASE_CACHE:
        while len(_COPURCHASE_CACHE) >= 2:
            # release the evicted entry's checkpoint blocks, as
            # graph_build._evict_graph does for the graph cache
            _COPURCHASE_CACHE.pop(
                next(iter(_COPURCHASE_CACHE))).unpersist()
        _COPURCHASE_CACHE[key] = copurchase_edges(
            load_table(spark, sf_dir, "lineitem"), min_count=1,
            max_basket=max_basket).localCheckpoint(eager=True)
    return _COPURCHASE_CACHE[key]


def clear_caches() -> None:
    """Unpersist and empty the module-level caches: the built graphs
    (``graph_build._GRAPH_CACHE``) and the co-purchase projections
    (``_COPURCHASE_CACHE``). The next ``build_graph`` and the next
    co-purchase query recompute from the tables."""
    for key in list(graph_build._GRAPH_CACHE):
        graph_build._evict_graph(key)
    while _COPURCHASE_CACHE:
        _COPURCHASE_CACHE.popitem()[1].unpersist()


def q_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence projection of (order, part) -> part-part edges kept
    at weight >= 2: the market-basket graph the analytics tier below
    runs on. Basket-local pair generation (self-join on l_orderkey);
    max_basket caps the quadratic output at scale."""
    return _copurchase_base(spark, sf_dir).filter(F.col("w") >= 2)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the full co-purchase graph via the
    degree-ordered wedge algorithm (skew-proof orientation: wedge volume
    <= |E|^1.5 regardless of degree distribution). Oracle enumerates the
    same triangles with an id-ordered triple join."""
    from rel_db_to_graph_spark.operators.graph_analytics import (
        triangle_counts,
    )
    return triangle_counts(_copurchase_base(spark, sf_dir),
                           materialized=True).select(
        F.col("node").alias("l_partkey"), "n_triangles")


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node (deg >= 2), 6-dp rounded —
    triangles + degrees composed; zero-triangle nodes kept at 0.0."""
    from rel_db_to_graph_spark.operators.graph_analytics import (
        clustering_coefficient,
    )
    return clustering_coefficient(_copurchase_base(spark, sf_dir),
                                  materialized=True).select(
        F.col("node").alias("l_partkey"), "deg", "coeff")


def q_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard node similarity on the thresholded
    co-purchase graph: "parts bought alongside the same parts" — the
    graph-topology analog of the shingle-Jaccard dedup measure."""
    from rel_db_to_graph_spark.operators.graph_analytics import (
        neighborhood_jaccard,
    )
    edges = _copurchase_base(spark, sf_dir).filter(F.col("w") >= 2)
    return neighborhood_jaccard(edges, min_common=2)


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-BSP BFS distances (<= 4 hops) from the smallest part id
    in the thresholded co-purchase graph. The Spark side never
    materializes paths; the oracle's recursive CTE does (exact at test
    SF)."""
    from rel_db_to_graph_spark.operators.graph_analytics import (
        bfs_distances,
    )
    edges = (_copurchase_base(spark, sf_dir).filter(F.col("w") >= 2)
             .localCheckpoint(eager=True))  # reused: min scan + 2 sides
    source = edges.agg(F.min("u")).first()[0]
    return bfs_distances(edges, source, max_depth=4).select(
        F.col("node").alias("l_partkey"), F.col("dist").cast("int").alias("dist"))


def q_cluster_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster representative selection: near-dup pairs ->
    connected components -> keep the longest member (n_chars desc,
    doc_id asc) — the policy step that turns clusters into a drop list.
    Integer keys only, so the argmax is engine-order-independent."""
    from rel_db_to_graph_spark.operators.components import duplicate_clusters
    from rel_db_to_graph_spark.operators.graph_analytics import (
        cluster_representatives)
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_duplicate_pairs(docs, threshold=0.5, max_bucket=None)
    clusters = duplicate_clusters(pairs)
    return cluster_representatives(clusters, docs)


# ---------------------------------------------------------- pivot/unpivot

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user activity matrix: groupBy(user).pivot(event_type)
    with EXPLICIT pivot values — the explicit list keeps the plan to one
    aggregation pass (no extra distinct-values job) and makes the output
    schema static, which is what a 100 TB pipeline needs anyway."""
    e = load_table(spark, sf_dir, "events")
    p = (e.groupBy("user_id")
         .pivot("event_type", _EVENT_TYPES)
         .agg(F.count(F.lit(1))))
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
          for t in _EVENT_TYPES])


def q_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the wide matrix back to long form with the stack() unpivot
    operator, dropping zero cells — roundtrips to a plain groupBy, which
    is exactly what the oracle computes."""
    wide = q_event_pivot(spark, sf_dir)
    cells = ", ".join(f"'{t}', n_{t}" for t in _EVENT_TYPES)
    long = wide.select(
        "user_id",
        F.expr(f"stack({len(_EVENT_TYPES)}, {cells}) "
               "as (event_type, n_events)"))
    return long.filter(F.col("n_events") > 0)


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous least-label propagation over
    the thresholded co-purchase graph (5 rounds): per round one label
    join + one (node, label) count + one per-node argmax — the same
    O(|E|)-per-superstep BSP shape as pagerank. Deterministic tie-break
    (count desc, label asc) is what makes an LPA variant oracle-
    checkable; the DuckDB twin unrolls the rounds as MATERIALIZED
    CTEs."""
    from rel_db_to_graph_spark.operators.graph_analytics import (
        label_propagation,
    )
    edges = _copurchase_base(spark, sf_dir).filter(F.col("w") >= 2)
    return label_propagation(edges, n_iter=5).select(
        F.col("node").alias("l_partkey"), "community")


def q_node_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-degree (strength) centrality on the full co-purchase
    projection: per node the sum of incident edge weights and neighbor
    count — the first-order importance signal on weighted graphs (one
    partial-aggregated groupBy over the symmetrized incidence)."""
    e = _copurchase_base(spark, sf_dir)
    both = (e.select(F.col("u").alias("node"), "w")
            .unionByName(e.select(F.col("v").alias("node"), "w")))
    return (both.groupBy("node")
            .agg(F.sum("w").alias("strength"),
                 F.count("*").alias("n_neighbors"))
            .select(F.col("node").alias("l_partkey"), "strength",
                    "n_neighbors"))


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the thresholded co-purchase graph: the
    Pearson correlation of endpoint degrees over the symmetrized edge
    list (Newman 2002) — one degree pass + one edge join + a 5-moment
    aggregation. All moments are exact integer sums (degrees are
    ints), accumulated in DECIMAL so the one final double expression
    is bit-stable cross-engine; rounded to 6 dp."""
    from rel_db_to_graph_spark.operators.graph_analytics import degrees
    e = (_copurchase_base(spark, sf_dir).filter(F.col("w") >= 2)
         .localCheckpoint(eager=True))
    deg = degrees(e)
    sym = (e.select(F.col("u").alias("a"), F.col("v").alias("b"))
           .unionByName(e.select(F.col("v").alias("a"),
                                 F.col("u").alias("b"))))
    j = (sym.join(deg.select(F.col("node").alias("a"),
                             F.col("deg").alias("x")), "a")
         .join(deg.select(F.col("node").alias("b"),
                          F.col("deg").alias("y")), "b"))
    m = j.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(27,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(27,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(27,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(27,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(27,0)")).alias("syy"))
    num = (F.col("sxy").cast("double") * F.col("n")
           - F.col("sx").cast("double") * F.col("sy").cast("double"))
    den = F.sqrt(
        (F.col("sxx").cast("double") * F.col("n")
         - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (F.col("syy").cast("double") * F.col("n")
           - F.col("sy").cast("double") * F.col("sy").cast("double")))
    return m.select(F.col("n").alias("n_endpoints"),
                    F.round(num / den, 6).alias("assortativity"))


def q_graph_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-analytics capstone: ONE wide per-node feature table on the
    thresholded co-purchase graph — degree, triangle count, LPA
    community, 3-core membership — every block reading the same single
    checkpointed projection (the feature-engineering table a
    downstream GNN/ranking model actually consumes). The composed
    DuckDB twin re-derives all four blocks independently."""
    from rel_db_to_graph_spark.operators.graph_analytics import (
        degrees,
        k_core,
        label_propagation,
        triangle_counts,
    )
    edges = (_copurchase_base(spark, sf_dir).filter(F.col("w") >= 2)
             .localCheckpoint(eager=True))
    deg = degrees(edges)
    tri = triangle_counts(edges, materialized=True)
    com = label_propagation(edges, n_iter=5)
    core = k_core(edges, k=3).select("node", F.lit(True).alias("in_core"))
    return (deg.join(tri, "node", "left")
            .join(com, "node")
            .join(core, "node", "left")
            .select(F.col("node").alias("l_partkey"), "deg",
                    F.coalesce(F.col("n_triangles"), F.lit(0))
                    .alias("n_triangles"),
                    "community",
                    F.coalesce(F.col("in_core"), F.lit(False))
                    .alias("in_core")))


def q_centrality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall sketch audits — neighborhood-ball sizes AND radius-2
    harmonic centrality — in ONE registry slot (driver-window capacity
    consolidation, VERDICT r8 item 2; formerly the separate
    hyperball_audit / harmonic_audit slots, same semantics under
    generic column names). The HLL-sketch estimates |B_1|, |B_2| are
    computed next to their exact twins ONCE (the joined frame is
    eagerly checkpointed, so the sketch rounds and the exact BFS run
    one time for both variants — half the cost of the two old slots),
    then each variant emits its exact values (counts / 6-dp harmonic
    h = (|B_1|-1)/1 + (|B_2|-|B_1|)/2) plus within-15% booleans on the
    sketch side; the DuckDB oracle recomputes the exact balls and
    claims TRUE — an estimator drifting past tolerance flips a boolean
    and the driver row goes red. The sketches are the 100 TB path (one
    |E|-shuffle of fixed 2^lgk-byte registers per round); the exact
    side is test-SF-only audit machinery."""
    from rel_db_to_graph_spark.operators.graph_analytics import (
        ball_sizes_exact,
        hyperball,
    )
    edges = _copurchase_base(spark, sf_dir).filter(F.col("w") >= 2)
    est = hyperball(edges, radius=2, lgk=12)
    exact = ball_sizes_exact(edges, radius=2)
    tol = 0.15
    j = est.join(exact, "node").localCheckpoint(eager=True)
    balls = j.select(
        F.lit("ball").alias("variant"),
        F.col("node").alias("l_partkey"),
        F.col("n_ball_1").cast("double").alias("m1"),
        F.col("n_ball_2").cast("double").alias("m2"),
        (F.abs(F.col("est_1") - F.col("n_ball_1"))
         <= F.lit(tol) * F.col("n_ball_1")).alias("ok1"),
        (F.abs(F.col("est_2") - F.col("n_ball_2"))
         <= F.lit(tol) * F.col("n_ball_2")).alias("ok2"))
    h_est = ((F.col("est_1") - F.col("est_0"))
             + (F.col("est_2") - F.col("est_1")) / 2.0)
    h_exact = ((F.col("n_ball_1") - 1)
               + (F.col("n_ball_2") - F.col("n_ball_1")) / 2.0)
    harmonic = j.select(
        F.lit("harmonic").alias("variant"),
        F.col("node").alias("l_partkey"),
        F.round(h_exact, 6).alias("m1"),
        F.lit(-1.0).alias("m2"),
        (F.abs(h_est - h_exact) <= 0.15 * h_exact + 1.0).alias("ok1"),
        F.lit(True).alias("ok2"))
    return balls.unionByName(harmonic)


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the thresholded co-purchase graph: iterative peeling to
    the unique fixpoint. Rows-only (iterative deletion has no recursive-
    CTE twin); test_graph_analytics pins equality against a brute-force
    Python peeler on the same sf0.001 graph."""
    from rel_db_to_graph_spark.operators.graph_analytics import k_core
    edges = _copurchase_base(spark, sf_dir).filter(F.col("w") >= 2)
    return k_core(edges, k=3).select(
        F.col("node").alias("l_partkey"), "core_deg")


def q_triangle_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental triangle maintenance (CDC shape): orders are split
    90/10 into an 'already-processed' batch and a 'new' batch; the new
    batch's triangles are added to the old counts via the disjoint
    delta decomposition — shuffle volume scales with the batch, not
    |E|. The oracle is the FULL recount on all orders: incremental
    must equal from-scratch exactly."""
    from rel_db_to_graph_spark.operators.graph_analytics import (
        copurchase_edges, triangle_counts_incremental)
    li = load_table(spark, sf_dir, "lineitem")
    old_li = li.filter(F.col("l_orderkey") % 10 != 0)
    old_edges = copurchase_edges(old_li, min_count=1, max_basket=64)
    all_edges = _copurchase_base(spark, sf_dir)  # shared full projection
    new_edges = all_edges.join(old_edges.select("u", "v"), ["u", "v"],
                               "left_anti")
    return triangle_counts_incremental(old_edges, new_edges).select(
        F.col("node").alias("l_partkey"), "n_triangles")


def q_small_lots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shaped correlated scalar subquery THROUGH spark.sql: revenue
    from lineitems ordering less than 20% of their part's average
    quantity, per brand. Catalyst decorrelates the subquery into an
    aggregate + join — the plan a hand-written two-pass DataFrame
    version would produce (test_plans pins no nested-loop join
    survives). Decimal-summed threshold and revenue keep the floats
    cross-engine-exact."""
    from rel_db_to_graph_spark.sql import register_views
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT p.p_brand,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,6)))
                    AS DOUBLE) AS small_lot_revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < 0.2 * (
            SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(27,6)))
                        AS DOUBLE) / COUNT(*)
            FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand
    """)
