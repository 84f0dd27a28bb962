"""to_hetero analog — heterogeneous GNN forward (model.py:92-94).

The reference turns a homogeneous GATv2 into a heterogeneous model with
``to_hetero(model, metadata, aggr='sum')``: every edge type gets its own
parameterized convolution, and each node type sums the per-edge-type
aggregations addressed to it. Same composition here:

  * per node type: a seeded input projection to the shared hidden width
    (heterogeneous feature widths -> one embedding space);
  * per layer, per edge type (s, rel, d): a bipartite GATv2 attention
    pass from type s embeddings into type d (the math of ml/gat.py);
  * per node type: element-wise SUM of all incoming per-edge-type
    messages (aggr='sum') plus a self projection, sigmoid.

Edge-type set includes REVERSE_* and SELF_LOOP types exactly as the
reference's metadata does (the graph carries them from G6/G7, and
add_self_loops=False in the conv because of that — train.py:45).

``hetero_layer`` is the one DataFrame form of a layer: the frozen
forward (``hetero_gat_forward``) and the full-batch hetero trainer
(ml/gat_train.py::_hetero_epoch, whose backward reads its frames) both
run on it.

Scale: one TAGGED-UNION plan per layer for every edge type together
(Pregelix's point — one dataflow over all edge kinds, not a forest of
small per-type jobs). Node types share one (nt, node_id, emb) frame,
edge types one (tag, st, dt, src, dst) frame; per-type weights are
per-tag CASE expressions (map-side, no extra stages), the softmax
window and the message sums key on (tag, dt, dst), and the ordered
aggr='sum' combine is one pivot + fixed-order adds. The stage count is
bounded regardless of |edge types| (sf0.01 built graph, 9 node types,
19 edge types, hidden 2: a warm one-layer forward submits 49 Spark
jobs, where one attention sub-plan per edge type plus a chained join
per incoming type submitted 203); lineage is cut per layer.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rel_db_to_graph_spark.functions.vector import dot, sigmoid
from rel_db_to_graph_spark.ml.gat import _LEAKY, _arr_lit
from rel_db_to_graph_spark.ml.gnn import linear_layer


def node_features_normalized(
        nodes: dict[str, DataFrame]) -> dict[str, tuple[DataFrame, int]]:
    """{type: ((node_id, emb array<double>), dim)}: numeric columns
    max-abs scaled (degree included). The max-abs scalars are computed
    JVM-side in a subquery cross-join, not collected — one job per type
    is avoided; dim comes from the column list, no action needed."""
    out = {}
    for t, nf in nodes.items():
        cols = [c for c in nf.columns if c not in ("node_id", "pk")]
        maxes = nf.agg(*[F.greatest(F.max(F.abs(F.col(c).cast("double"))),
                                    F.lit(1e-12)).alias(f"_mx_{c}")
                         for c in cols])
        scaled = nf.crossJoin(F.broadcast(maxes)).select(
            "node_id",
            F.array(*[F.col(c).cast("double") / F.col(f"_mx_{c}")
                      for c in cols]).alias("emb"))
        out[t] = (scaled, len(cols))
    return out


def _cut(df: DataFrame) -> DataFrame:
    """Lineage cut inside the tagged hetero plans — MEASURED both ways
    (round 8): localCheckpoint(eager=False) on a real plan materializes
    its AQE shuffle stages at call time (driver-blocking stage-jobs),
    so cuts LOOK like pure overhead inside a single fused collect — but
    without them each downstream branch re-derives the shared lineage
    (branch-specific column pruning makes the duplicated exchanges
    non-identical, so ReusedExchange does NOT dedup them) and the
    trainer step got ~2x slower (sf0.001 steady 57 s with the cuts,
    116 s without)."""
    return df.localCheckpoint(eager=False)


def _case(key_col: Column, exprs: dict) -> Column:
    """Per-tag expression via a when-chain (map-side, codegen)."""
    items = list(exprs.items())
    out = F.when(key_col == items[0][0], items[0][1])
    for k, e in items[1:]:
        out = out.when(key_col == k, e)
    return out


def tag_nodes(frames: dict[str, DataFrame]) -> DataFrame:
    """One (nt, node_id, emb) frame from per-type (node_id, emb) frames,
    unioned in sorted type order."""
    return reduce(DataFrame.unionByName,
                  [frames[t].select(F.lit(t).alias("nt"), "node_id", "emb")
                   for t in sorted(frames)])


def input_projection(feats: dict[str, DataFrame], W0: dict,
                     quantize: bool = False) -> DataFrame:
    """The tagged node frame N = (nt, node_id, emb) of h0_t = σ(W0_t x_t)
    for every type of ``feats`` ({type: (node_id, emb)})."""
    def h0(t):
        raw = linear_layer(F.col("emb"), W0[t], activation="sigmoid")
        # 6-dp parity convention on the sigmoid (exp) outputs — the only
        # libm call on the projection path
        return (F.transform(raw, lambda x: F.round(x, 6))
                if quantize else raw)
    return _cut(tag_nodes({t: f.select("node_id", h0(t).alias("emb"))
                           for t, f in feats.items()}))


def hetero_layer(edges: dict, N: DataFrame, attn: dict, Wself: dict,
                 quantize: bool = False):
    """One heterogeneous GATv2 layer over the tagged node frame
    N = (nt, node_id, emb):

        msg_e = GATv2(h_s → h_d), no act       per edge type (s,rel,d)
        h1_d  = σ(Wself_d h_d + Σ_e→d msg_e)   aggr='sum' + self

    ``edges``: {(s, rel, d): (src, dst)}; ``attn``: {(s, rel, d): (Wl, Wr,
    a)} — its keys pick the edge types; ``Wself``: {type: h×h}.
    Returns (al, msum, h1), the frames a backward reads: ``al`` per edge
    (tag, st, dt, src, dst, _s, _q, _r, _av, _alpha), ``msum`` per
    (tag, dt, dst) message sums _m0.._m{h-1}, and ``h1`` the layer
    output (nt, node_id, emb) for every node of N.

    ``quantize=True`` applies the repo's 6-dp float-parity convention
    at every order-dependent reduction, the ml/gat.py::attention_layer
    contract: round(exp(e-max), 6) softmax numerators + DECIMAL
    partition sums, round(α·s_i, 6) message terms + DECIMAL sums,
    round(sigmoid, 6) outputs. Everything else is fixed-order per-row
    double arithmetic, bit-identical across engines by IEEE-754 — this
    is what lets the DuckDB twin REPLAY the forward
    (oracle.py::_hetero_forward_q_sql)."""
    hidden = next(iter(Wself.values())).shape[0]
    dims = range(hidden)
    types = sorted(Wself)
    edge_types = sorted(attn)
    etag = {et: "|".join(et) for et in edge_types}

    E = reduce(DataFrame.unionByName, [
        edges[et].select(F.lit(etag[et]).alias("tag"),
                         F.lit(et[0]).alias("st"), F.lit(et[2]).alias("dt"),
                         "src", "dst")
        for et in edge_types])
    tag = F.col("tag")
    ef = (E.join(N.select(F.col("nt").alias("st"),
                          F.col("node_id").alias("src"),
                          F.col("emb").alias("_xs")), ["st", "src"])
          .join(N.select(F.col("nt").alias("dt"),
                         F.col("node_id").alias("dst"),
                         F.col("emb").alias("_xd")), ["dt", "dst"])
          .withColumn("_s", _case(tag, {
              etag[et]: linear_layer(F.col("_xs"), attn[et][0],
                                     activation=None)
              for et in edge_types}))
          .withColumn("_t", _case(tag, {
              etag[et]: linear_layer(F.col("_xd"), attn[et][1],
                                     activation=None)
              for et in edge_types}))
          .withColumn("_av", _case(tag, {
              etag[et]: _arr_lit(attn[et][2]) for et in edge_types}))
          .withColumn("_q", F.zip_with("_s", "_t", lambda s, t: s + t))
          .withColumn("_r", F.transform(
              "_q", lambda x: F.when(x > 0, x).otherwise(x * F.lit(_LEAKY))))
          .withColumn("_e", dot(F.col("_r"), F.col("_av"))))
    # softmax over each (edge type, dst)'s in-edges in ONE shuffle for
    # every edge type together
    wd = Window.partitionBy("tag", "dt", "dst")
    w_raw = F.exp(F.col("_e") - F.col("_mx"))
    al = _cut(ef.withColumn("_mx", F.max("_e").over(wd))
              .withColumn("_w", F.round(w_raw, 6) if quantize else w_raw)
              .withColumn("_z",
                          F.sum(F.col("_w").cast("decimal(27,6)")).over(wd)
                          .cast("double") if quantize
                          else F.sum("_w").over(wd))
              .withColumn("_alpha", F.col("_w") / F.col("_z")))

    def mterm(i):
        ax = F.col("_alpha") * F.col("_s").getItem(i)
        return (F.sum(F.round(ax, 6).cast("decimal(27,6)")).cast("double")
                if quantize else F.sum(ax))

    msum = _cut(al.groupBy("tag", "dt", "dst").agg(
        *[mterm(i).alias(f"_m{i}") for i in dims]))

    # ordered aggr='sum' combine: pivot each (tag, dst)'s message array
    # to a column named by its tag, then add them in SORTED edge-type
    # order per node type (a missing (tag, dst) contributes +0.0, a node
    # with no in-edges of that type)
    piv = (msum.groupBy(F.col("dt").alias("nt"),
                        F.col("dst").alias("node_id"))
           .pivot("tag", [etag[et] for et in edge_types])
           .agg(F.first(F.array(*[F.col(f"_m{i}") for i in dims]))))
    pre = []
    for i in dims:
        per_type = {}
        for t in types:
            e = dot(F.col("emb"), _arr_lit(Wself[t][i]))
            for et in edge_types:
                if et[2] == t:
                    e = e + F.coalesce(F.col(f"`{etag[et]}`").getItem(i),
                                       F.lit(0.0))
            per_type[t] = e
        pre.append(_case(F.col("nt"), per_type))
    act = (lambda x: F.round(sigmoid(x), 6)) if quantize else sigmoid
    h1 = _cut(N.join(piv, ["nt", "node_id"], "left").select(
        "nt", "node_id", F.transform(F.array(*pre), act).alias("emb")))
    return al, msum, h1


def hetero_gat_forward(graph: dict, hidden: int = 4, layers: int = 1,
                       seed: int = 42,
                       quantize: bool = False) -> dict[str, DataFrame]:
    """Heterogeneous multi-layer forward: {node_type: (node_id, emb)}.

    Seeded draws, in order: W0 per sorted node type, then per layer
    (Wl, Wr, a) per sorted edge type and Wself per sorted node type;
    each layer is one ``hetero_layer``.

    ``quantize=True`` applies the repo's 6-dp float-parity convention
    to the input projection's sigmoid outputs and inside every layer
    (``hetero_layer``), making the whole forward DuckDB-replayable
    (oracle.py::_hetero_forward_q_sql): everything that is NOT
    quantized — input max-abs scaling, the seeded linear projections,
    attention scores, the per-row edge-type message adds — is
    fixed-order per-row double arithmetic, bit-identical across
    engines by IEEE-754 (no order-varying sums, no libm divergence
    beyond the rounded exp/sigmoid terms)."""
    rng = np.random.default_rng(seed)
    feats = node_features_normalized(graph["nodes"])
    W0 = {t: rng.normal(0, 0.5, size=(hidden, feats[t][1]))
          for t in sorted(feats)}
    N = input_projection({t: f for t, (f, _) in feats.items()}, W0,
                         quantize)
    for _layer in range(layers):
        attn = {et: (rng.normal(0, 0.5, size=(hidden, hidden)),
                     rng.normal(0, 0.5, size=(hidden, hidden)),
                     rng.normal(0, 0.5, size=hidden))
                for et in sorted(graph["edges"])}
        Wself = {t: rng.normal(0, 0.5, size=(hidden, hidden))
                 for t in sorted(W0)}
        _, _, N = hetero_layer(graph["edges"], N, attn, Wself, quantize)
    return {t: N.filter(F.col("nt") == t).select("node_id", "emb")
            for t in sorted(W0)}
