"""GATv2-style attention message passing as DataFrame ops (L5 parity —
the reference wraps GATv2Conv via to_hetero, model.py:92-94, train.py:46).

Per layer, single head, following Brody et al. 2021 ("How Attentive Are
Graph Attention Networks?", public arXiv):

    s_i  = W_l · h_i          (source projection)
    t_j  = W_r · h_j          (target projection)
    e_ij = a · LeakyReLU(s_i + t_j)        — the v2 ordering: the shared
           nonlinearity is applied BEFORE the attention vector, which is
           what makes attention conditional on the query node
    α_ij = softmax over incoming edges of j (numerically stabilized:
           exp(e - max_j e) / Σ)
    h'_j = σ( Σ_i α_ij · s_i )

``attention_layer`` is the one DataFrame form of this layer: the frozen
forward (``gat_layer`` → ``gat_forward``) and the full-batch trainers
(ml/gat_train.py: ``_gat_epoch``, ``_stack_epoch``) all run on it. The
heterogeneous model runs the same math for every edge type at once as
one tagged-union plan (ml/hetero.py::hetero_layer). Spark
decomposition, per layer:
    * projections: per-row linear maps (codegen);
    * e_ij: per-edge expression after two endpoint joins;
    * softmax: one unordered window over each dst's in-edges computes
      the max and the partition sum in a single shuffle;
    * weighted aggregation: h fixed-width column sums in one groupBy(dst).

Self-loops are expected to come from the graph itself (G7) — the
reference sets add_self_loops=False (train.py:45) because the graph
already carries them; same here.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rel_db_to_graph_spark.functions.vector import dot, sigmoid
from rel_db_to_graph_spark.ml.gnn import linear_layer

#: LeakyReLU negative slope inside e_ij (the GATv2Conv default)
_LEAKY = 0.2

#: resolution of the content-addressed dropout draw
_DROP_MOD = 1_000_000


def _arr_lit(vec) -> F.Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def batch_norm(emb_df: DataFrame, dim: int, eps: float = 1e-5) -> DataFrame:
    """BatchNorm over an (node_id, emb array<double>) frame: per-dim
    (x - mean) / sqrt(var + eps), batch statistics computed JVM-side as
    one aggregation and broadcast back (the GATConfig norm='BatchNorm'
    option, model.py:10-24 / params.yaml). Affine params are the torch
    init (gamma=1, beta=0); like the attention weights they are seeded,
    not trained."""
    stats = emb_df.agg(
        *[F.avg(F.element_at("emb", i + 1)).alias(f"_m{i}")
          for i in range(dim)],
        *[F.var_pop(F.element_at("emb", i + 1)).alias(f"_v{i}")
          for i in range(dim)])
    return emb_df.crossJoin(F.broadcast(stats)).select(
        "node_id",
        F.array(*[(F.element_at("emb", i + 1) - F.col(f"_m{i}"))
                  / F.sqrt(F.col(f"_v{i}") + F.lit(eps))
                  for i in range(dim)]).alias("emb"))


def attention_layer(edges: DataFrame, emb: DataFrame, Wl: np.ndarray,
                    Wr: np.ndarray, a: np.ndarray,
                    dst_emb: DataFrame | None = None,
                    activation: str | None = "sigmoid",
                    dropout: float = 0.0, dropout_seed: int = 0,
                    quantize: bool = False):
    """One GATv2 attention layer forward: returns (al, H) where ``al`` is
    the per-edge frame (src, dst, _s, _q, _r, _alpha) and ``H`` is
    (node_id, _m, _h) for ALL dst-side nodes — zeros for nodes with no
    in-edges (they receive no messages, which also zeroes their
    gradient). ``dst_emb`` switches to the bipartite case (src
    projected from ``emb``, dst from ``dst_emb``); ``activation``
    'sigmoid', anything else is the identity (pre-activation
    messages).

    ``dropout`` is PyG's attention-coefficient dropout (GATConfig
    dropout=0.15, params.yaml): each normalized α_ij is zeroed with
    probability p and the survivors scaled by 1/(1-p) (inverted
    dropout). The mask is CONTENT-ADDRESSED — xxhash64(src, dst,
    dropout_seed) — so it is a pure function of the edge, reproducible
    on any partitioning, and a fresh draw per (layer, edge type) via
    the seed. The trainers run with no dropout.

    ``quantize=True`` applies the repo's 6-dp float-parity convention
    (the same per-term round(x, 6) + DECIMAL accumulate used by msg_agg
    / pagerank / lm_nll) to the layer's order-dependent reductions:
    round(exp(e-max), 6) numerators + DECIMAL partition sum, round(α·s_i,
    6) message terms + DECIMAL sum, round(sigmoid, 6) output. Everything
    else on the path is fixed-order per-row double arithmetic, already
    bit-identical across engines — this is what lets a DuckDB twin
    REPLAY the forwards (oracle.py::_gat_stack_train_q_sql)."""
    h = Wl.shape[0]
    a_lit = _arr_lit(a)
    demb = emb if dst_emb is None else dst_emb
    sp = emb.select(F.col("node_id").alias("src"),
                    linear_layer(F.col("emb"), Wl, activation=None)
                    .alias("_s"))
    tp = demb.select(F.col("node_id").alias("dst"),
                     linear_layer(F.col("emb"), Wr, activation=None)
                     .alias("_t"))
    ef = (edges.join(sp, "src").join(tp, "dst")
          .withColumn("_q", F.zip_with("_s", "_t", lambda s, t: s + t))
          .withColumn("_r", F.transform(
              "_q", lambda x: F.when(x > 0, x).otherwise(x * F.lit(_LEAKY))))
          .withColumn("_e", dot(F.col("_r"), a_lit)))
    # softmax over each dst's in-edges in ONE shuffle: an unordered
    # whole-partition window computes max and sum together, where the
    # groupBy+join×2 form paid three extra exchanges per layer —
    # per-stage overhead was the measured wall-clock dominator of a
    # sampled gradient step (round-7 stage diet)
    wd = Window.partitionBy("dst")
    w_raw = F.exp(F.col("_e") - F.col("_mx"))
    al = (ef.withColumn("_mx", F.max("_e").over(wd))
          .withColumn("_w", F.round(w_raw, 6) if quantize else w_raw)
          .withColumn("_z",
                      F.sum(F.col("_w").cast("decimal(27,6)")).over(wd)
                      .cast("double") if quantize
                      else F.sum("_w").over(wd))
          .withColumn("_alpha", F.col("_w") / F.col("_z")))
    if dropout > 0.0:
        keep = (F.pmod(F.xxhash64("src", "dst", F.lit(int(dropout_seed))),
                       F.lit(_DROP_MOD))
                >= F.lit(int(dropout * _DROP_MOD)))
        al = al.withColumn(
            "_alpha",
            F.when(keep, F.col("_alpha") / F.lit(1.0 - dropout))
            .otherwise(F.lit(0.0)))
    al = al.localCheckpoint(eager=False)
    # message aggregation as h fixed-width column sums — no posexplode
    # row blow-up, no (dst, pos) shuffle, no collect_list rebuild.
    # h is a small compile-time constant (model width), so h aggregate
    # expressions stay comfortably inside one codegen stage.
    def mterm(i):
        ax = F.col("_alpha") * F.col("_s").getItem(i)
        return (F.sum(F.round(ax, 6).cast("decimal(27,6)")).cast("double")
                if quantize else F.sum(ax))
    msum = al.groupBy("dst").agg(
        *[mterm(i).alias(f"_m{i}") for i in range(h)])
    zeros = F.array_repeat(F.lit(0.0), h)
    sact = ((lambda x: F.round(sigmoid(x), 6)) if quantize
            else (lambda x: sigmoid(x)))
    act = ((lambda c: F.transform(c, sact))
           if activation == "sigmoid" else (lambda c: F.col(c)))
    H = (demb.select("node_id")
         .join(msum.select(F.col("dst").alias("node_id"),
                           F.array(*[F.col(f"_m{i}") for i in range(h)])
                           .alias("_m")), "node_id", "left")
         .select("node_id",
                 F.coalesce("_m", zeros).alias("_m"),
                 F.coalesce(act("_m"), zeros).alias("_h"))
         .localCheckpoint(eager=False))
    return al, H


def gat_layer(edges: DataFrame, feats: DataFrame, w_l: np.ndarray,
              w_r: np.ndarray, a: np.ndarray,
              activation: str = "sigmoid",
              dst_feats: DataFrame | None = None,
              dropout: float = 0.0, dropout_seed: int = 0,
              quantize: bool = False) -> DataFrame:
    """One GATv2 attention layer: (node_id, emb) -> (node_id, emb').

    Homogeneous by default; pass ``dst_feats`` for the bipartite case
    (src endpoints projected from ``feats``, dst endpoints from
    ``dst_feats``). Nodes with no in-edges keep a zero embedding of the
    output width (they receive no messages — callers concat or sum
    self features). ``activation=None`` returns the
    pre-activation messages. This is ``attention_layer``'s ``H`` output;
    ``dropout``/``dropout_seed``/``quantize`` are its options."""
    _, H = attention_layer(edges, feats, w_l, w_r, a, dst_emb=dst_feats,
                           activation=activation, dropout=dropout,
                           dropout_seed=dropout_seed, quantize=quantize)
    return H.select("node_id", F.col("_h").alias("emb"))


def gat_forward(edges: DataFrame, features: DataFrame, hidden: int = 4,
                layers: int = 2, seed: int = 42,
                dropout: float = 0.0, norm: str | None = None) -> DataFrame:
    """Multi-layer GATv2 forward with deterministic seeded parameters.
    Self features are concatenated into each layer's input so nodes
    without in-edges still carry signal. ``dropout``/``norm`` are the
    GATConfig knobs (model.py:10-24): attention dropout per layer
    (fresh content-addressed mask each layer) and norm='batch' for
    BatchNorm between layers."""
    rng = np.random.default_rng(seed)
    emb = features
    in_dim = len(emb.select("emb").first()["emb"])
    for layer in range(layers):
        w_l = rng.normal(0, 0.5, size=(hidden, in_dim))
        w_r = rng.normal(0, 0.5, size=(hidden, in_dim))
        a = rng.normal(0, 0.5, size=hidden)
        emb = gat_layer(edges, emb, w_l, w_r, a,
                        dropout=dropout, dropout_seed=seed + layer)
        if norm == "batch":
            emb = batch_norm(emb, hidden)
        emb = emb.localCheckpoint(eager=False)
        in_dim = hidden
    return emb
