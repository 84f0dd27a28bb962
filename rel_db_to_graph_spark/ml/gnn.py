"""L5/L6 — GNN dataflow as iterative DataFrame ops (aggregate-messages).

The reference wraps a GATv2 in ``to_hetero(..., aggr='sum')``
(model.py:92-94): per layer, each node sums messages from in-neighbors
across every incident edge type, then applies a learned transform. The
Spark-native shape of that computation is the classic aggregate-messages
pattern (Pregel-on-DataFrames):

    messages  = edges ⋈ node_embeddings (on src)      — one equi-join
    aggregated = messages.groupBy(dst).sum()          — one shuffle
    next_emb   = transform(aggregated, self_emb)      — per-row codegen

A k-layer forward = k join+groupBy rounds with ``localCheckpoint`` between
rounds to cut lineage (SURVEY.md §4.2). Embedding width stays small (the
reference uses hidden=10, params.yaml:16), so each round shuffles
N·hidden doubles — the sampling (operators/sampling.py) is what bounds N.

The learned transform here is a deterministic seeded linear map
(numpy RNG), applied JVM-side via per-dimension expressions for small
widths. This gives the full *dataflow* parity (L5's message passing, L6's
decoder); gradient training (L9/L10) is a driver-side torch loop over
collected mini-batches in the reference design and is intentionally out
of the engine's distributed surface (SURVEY.md §3.2).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rel_db_to_graph_spark.functions.vector import dot, sigmoid, to_double


def aggregate_messages(edges: DataFrame, embeddings: DataFrame,
                       agg: str = "sum") -> DataFrame:
    """One hop of message passing: (node_id, msg: array<double>).

    ``embeddings`` = (node_id, emb array<double>); messages flow src→dst
    and are summed per dst (aggr='sum', model.py:94). The element-wise
    array sum is a codegen'd zip_with fold — no UDF.
    """
    msgs = (
        edges.join(
            embeddings.select(F.col("node_id").alias("src"),
                              F.col("emb").alias("_m")),
            "src")
        .select(F.col("dst").alias("node_id"), F.posexplode("_m"))
    )
    # per-(node, dim) partial aggregation — skew-proof: a hub node's
    # messages combine map-side instead of collecting into one task
    per_dim = (
        msgs.groupBy("node_id", "pos")
        .agg(F.sum("col").alias("v"), F.count("*").alias("n"))
    )
    if agg == "mean":
        per_dim = per_dim.withColumn("v", F.col("v") / F.col("n"))
    return (
        per_dim.groupBy("node_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ).alias("msg"),
            F.max("n").alias("n_msgs"),
        )
    )


def linear_layer(emb_col: F.Column, weights: np.ndarray,
                 activation: str = "sigmoid") -> F.Column:
    """Apply a fixed (out, in) weight matrix to an array<double> column —
    unrolled per output dim (one dot expression per output)."""
    outs = []
    for o in range(weights.shape[0]):
        w = F.array(*[F.lit(float(v)) for v in weights[o]])
        z = dot(emb_col, w)
        outs.append(sigmoid(z) if activation == "sigmoid" else z)
    return F.array(*outs)


def gnn_forward(edges: DataFrame, features: DataFrame, hidden: int = 4,
                layers: int = 2, seed: int = 42) -> DataFrame:
    """Multi-layer deterministic forward pass: (node_id, emb).

    features = (node_id, emb array<double>). Each layer: aggregate
    in-messages (sum), concat with self embedding, seeded linear+sigmoid.
    localCheckpoint between layers cuts the lineage that otherwise grows
    a join+shuffle per layer.
    """
    rng = np.random.default_rng(seed)
    emb = features
    in_dim = len(emb.select("emb").first()["emb"])
    for layer in range(layers):
        w = rng.normal(0, 0.5, size=(hidden, in_dim * 2))
        msgs = aggregate_messages(edges, emb).select("node_id", "msg")
        both = (
            emb.join(msgs, "node_id", "left")
            .select(
                "node_id",
                F.concat(
                    F.col("emb"),
                    F.coalesce(F.col("msg"),
                               F.array_repeat(F.lit(0.0), in_dim)),
                ).alias("emb"))
        )
        emb = both.select("node_id",
                          linear_layer(F.col("emb"), w).alias("emb"))
        emb = emb.localCheckpoint(eager=False)
        in_dim = hidden
    return emb


def decode_edges(edges: DataFrame, emb: DataFrame) -> DataFrame:
    """L6 dot-product decoder: (src, dst, prob)."""
    e = (
        edges
        .join(emb.select(F.col("node_id").alias("src"),
                         F.col("emb").alias("_es")), "src")
        .join(emb.select(F.col("node_id").alias("dst"),
                         F.col("emb").alias("_ed")), "dst")
    )
    return e.select(
        "src", "dst",
        F.round(sigmoid(dot(to_double(F.col("_es")), to_double(F.col("_ed")))),
                6).alias("prob"))
