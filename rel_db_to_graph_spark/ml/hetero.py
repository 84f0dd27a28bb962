"""to_hetero analog — heterogeneous GNN forward (model.py:92-94).

The reference turns a homogeneous GATv2 into a heterogeneous model with
``to_hetero(model, metadata, aggr='sum')``: every edge type gets its own
parameterized convolution, and each node type sums the per-edge-type
aggregations addressed to it. Same composition here:

  * per node type: a seeded input projection to the shared hidden width
    (heterogeneous feature widths -> one embedding space);
  * per layer, per edge type (s, rel, d): a bipartite GATv2 attention
    pass from type s embeddings into type d (ml/gat.py);
  * per node type: element-wise SUM of all incoming per-edge-type
    messages (aggr='sum') plus a self projection, sigmoid.

Edge-type set includes REVERSE_* and SELF_LOOP types exactly as the
reference's metadata does (the graph carries them from G6/G7, and
add_self_loops=False in the conv because of that — train.py:45).

Scale: each edge type contributes the endpoint joins, one softmax
window shuffle and one per-dst message groupBy per layer — the per-type
plans are independent until the final per-type sum, so a scheduler can
run them concurrently; lineage is checkpointed per layer.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rel_db_to_graph_spark.functions.vector import sigmoid
from rel_db_to_graph_spark.ml.gat import gat_layer
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


def hetero_gat_forward(graph: dict, hidden: int = 4, layers: int = 1,
                       seed: int = 42, dropout: float = 0.0,
                       norm: str | None = None,
                       quantize: bool = False) -> dict[str, DataFrame]:
    """Heterogeneous multi-layer forward: {node_type: (node_id, emb)}.

    ``dropout`` (attention-coefficient dropout, a fresh content-
    addressed mask per layer × edge type) and ``norm='batch'``
    (per-type BatchNorm after each layer) mirror the reference's
    GATConfig dropout=0.15 / norm='BatchNorm' (model.py:10-24,
    params.yaml).

    ``quantize=True`` applies the repo's 6-dp float-parity convention
    at every order-dependent reduction (the gat.py::attention_layer
    softmax/message sums) and to each sigmoid output, making the whole
    forward DuckDB-replayable (oracle.py::_hetero_forward_q_sql):
    everything that is NOT quantized — input max-abs scaling, the seeded linear
    projections, attention scores, the per-row edge-type message adds
    — is fixed-order per-row double arithmetic, bit-identical across
    engines by IEEE-754 (no order-varying sums, no libm divergence
    beyond the rounded exp/sigmoid terms)."""
    from rel_db_to_graph_spark.ml.gat import batch_norm

    rng = np.random.default_rng(seed)
    feats = node_features_normalized(graph["nodes"])

    # input projection per type -> shared hidden width
    emb: dict[str, DataFrame] = {}
    for t in sorted(feats):
        scaled, in_dim = feats[t]
        w0 = rng.normal(0, 0.5, size=(hidden, in_dim))
        proj = linear_layer(F.col("emb"), w0)      # sigmoid-activated
        if quantize:
            # 6-dp parity convention on the sigmoid (exp) outputs —
            # the only libm call on the projection path
            proj = F.transform(proj, lambda x: F.round(x, 6))
        emb[t] = scaled.select("node_id", proj.alias("emb"))
        emb[t] = emb[t].localCheckpoint(eager=False)

    edge_types = sorted(graph["edges"])
    for _layer in range(layers):
        # per-edge-type attention messages into the dst type
        incoming: dict[str, list[DataFrame]] = {t: [] for t in emb}
        for ti, (s, rel, d) in enumerate(edge_types):
            w_l = rng.normal(0, 0.5, size=(hidden, hidden))
            w_r = rng.normal(0, 0.5, size=(hidden, hidden))
            a = rng.normal(0, 0.5, size=hidden)
            msg = gat_layer(graph["edges"][(s, rel, d)], emb[s],
                            w_l, w_r, a, activation=None, dst_feats=emb[d],
                            dropout=dropout,
                            dropout_seed=seed + 1000 * _layer + ti,
                            quantize=quantize)
            incoming[d].append(msg)

        new_emb = {}
        for t in sorted(emb):
            w_self = rng.normal(0, 0.5, size=(hidden, hidden))
            combined = emb[t].select(
                "node_id", linear_layer(F.col("emb"), w_self,
                                        activation=None).alias("emb"))
            # aggr='sum' across edge types (model.py:94)
            for msg in incoming[t]:
                combined = (
                    combined.join(msg.withColumnRenamed("emb", "_m"),
                                  "node_id", "left")
                    .select("node_id",
                            F.when(F.col("_m").isNull(), F.col("emb"))
                            .otherwise(F.zip_with("emb", "_m",
                                                  lambda x, y: x + y))
                            .alias("emb"))
                )
            act = ((lambda x: F.round(sigmoid(x), 6)) if quantize
                   else (lambda x: sigmoid(x)))
            out = combined.select(
                "node_id",
                F.transform("emb", act).alias("emb"))
            if norm == "batch":
                out = batch_norm(out, hidden)
            new_emb[t] = out.localCheckpoint(eager=False)
        emb = new_emb
    return emb
