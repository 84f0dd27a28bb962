"""L5 end-to-end: a TRAINED GATv2 attention layer (closes the round-3
verdict's last fidelity gap — previously only the final projection +
decoder trained over a frozen seeded GAT).

The reference backprops through every GATv2Conv with torch autograd
(model.py:84-152, train.py:72-80). The Spark-native decomposition keeps
the same split as ml/train.py: everything O(|edges| + |examples|) — the
forward pass, the loss, and every gradient REDUCTION — is a DataFrame
aggregation; the driver only does AdamW arithmetic on the ~h·(d_s+d_d)+h+1
parameter scalars, which travel back to executors as literals next epoch.

Model (bipartite GATv2 layer + dot decoder, single head):

    s_i   = W_l x_i                 (src-type projection, h×d_s)
    t_j   = W_r x_j                 (dst-type projection, h×d_d)
    q_ij  = s_i + t_j ;  r_ij = LeakyReLU(q_ij) ;  e_ij = a · r_ij
    α_ij  = softmax over in-edges of j (max-shifted, stable)
    h_j   = σ( Σ_i α_ij s_i )       (attention message + sigmoid)
    z_uv  = s_u · h_v + b ;  p = σ(z) ;  BCE loss over labeled pairs

Hand-derived backward, each step one aggregation (n = #examples):

    err        = p − y                                  (per example)
    ∂L/∂b      = Σ err / n
    ∂L/∂h_v    = Σ_{(u,v)} err · s_u          → per-node join+groupBy
    gm_j       = ∂L/∂h_j ⊙ h_j ⊙ (1−h_j)      (sigmoid chain)
    c_j        = gm_j · m_j                    (softmax couplant; m=Σαs)
    ∂L/∂e_ij   = α_ij (gm_j·s_i − c_j)         — the softmax Jacobian
                 collapses to this scalar because every path through
                 α_kj shares the per-dst couplant c_j
    ∂L/∂q_ij   = (∂L/∂e_ij) · a ⊙ LeakyReLU'(q_ij)
    ∂L/∂a      = Σ_edges (∂L/∂e_ij) r_ij       → posexplode/groupBy(pos)
    ∂L/∂s_i    = Σ_j α_ij gm_j + ∂L/∂q_ij  [msg paths]
                 + Σ_v err·h_v                  [decoder path]
    ∂L/∂t_j    = Σ_i ∂L/∂q_ij
    ∂L/∂W_l    = Σ_i (∂L/∂s_i) x_iᵀ            → groupBy (row, col)
    ∂L/∂W_r    = Σ_j (∂L/∂t_j) x_jᵀ

Scale shape: shuffles touch (node, dim) or (dst, scalar) pairs only,
all partially aggregated map-side; no feature matrix is ever collected;
per-epoch driver traffic is the gradient cells (h·d values). The
forward is ml/gat.py::attention_layer, the same DataFrame layer the
frozen forwards run (one window shuffle for the softmax, one groupBy
for the messages); its backward is ``_backward_layer_frames``. The
hetero epoch's forward is ml/hetero.py::hetero_layer, the frozen hetero
forward's tagged-union layer. Cross-checked against a from-scratch
numpy forward/backward twin in tests/test_gat_train.py.

Every trainer here runs on ml/train.py::fit, the one fit loop (split,
optimizer, per-epoch train hook, val stats, history row, best-val
checkpoint over the flat parameter vector). The full-batch trainers
plug in one epoch pass (``_gat_epoch``, ``_stack_epoch``,
``_hetero_epoch``); the two sampled trainers share ``_sampled_fit``,
the sampled-epoch driver (batch membership, fused-sampling prefetch,
closure fetch, val-closure collect, per-batch local steps), and plug
in their sampler, closure frame, row parser and local epoch. The stack
and hetero parameters each have one flat/unflat codec
(``_stack_flat``/``_stack_unflat``, ``_hetero_flat``/
``_hetero_unflat``), shared by the full-batch and sampled trainers.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rel_db_to_graph_spark.functions.vector import dot, sigmoid
from rel_db_to_graph_spark.ml.gat import _LEAKY, _arr_lit, attention_layer
from rel_db_to_graph_spark.ml.gnn import linear_layer
from rel_db_to_graph_spark.ml.hetero import (
    _case,
    _cut,
    hetero_layer,
    input_projection,
    tag_nodes,
)
from rel_db_to_graph_spark.ml.local_step import (
    hetero_epoch_local,
    stack_epoch_local,
)
from rel_db_to_graph_spark.ml.train import (
    TrainResult,
    _flat,
    _full_batch,
    _unflat,
    fit,
)
from rel_db_to_graph_spark.operators.sampling import (
    _forced_bucketed_scan,
    sample_incoming,
    sample_incoming_hetero,
    sample_incoming_hetero_store_multi,
    sample_incoming_store_multi,
)
from rel_db_to_graph_spark.operators.split import (
    check_draw,
    draw_bucket,
    draw_key,
)

#: phase tracer for the sampled-trainer scale audits (SPARK_GRAFT_TRACE=1):
#: prints wall-clock per trainer phase so the per-step scheduling floor
#: is measured, not guessed. Off by default — zero cost in production.
_TRACE = os.environ.get("SPARK_GRAFT_TRACE", "") == "1"

#: fused-sampling chunk width IN PLAN BRANCHES, not batches: the
#: multi-batch samplers union one sample branch per (batch, edge type)
#: into a single job, and Catalyst analysis cost grows SUPERLINEARLY in
#: branch count — measured on the hetero trainer (4 edge types) at 20
#: batches/epoch, sf1: chunking 16 batches/job costs 271 s of prefetch,
#: 8 → 182 s, 4 → 109 s, 2 → 97 s (BASELINE.md round 11). Each trainer
#: therefore divides this budget by its edge-type count (the hetero
#: trainer fuses 16/4 = 4 batches per job; the single-edge-type stack
#: trainer keeps 16), which amortizes the per-job scheduling floor
#: without tipping into the analysis blow-up.
_FUSE_BATCHES = 16


def _fuse_width(n_edge_types: int) -> int:
    return max(1, _FUSE_BATCHES // max(1, n_edge_types))


def _phase_clock():
    """``mark(label)``: prints the wall time since the previous mark (or
    since the clock was made) when SPARK_GRAFT_TRACE=1."""
    last = [time.time()]

    def mark(label: str) -> None:
        now = time.time()
        if _TRACE:
            print(f"    [trace] {label}: {now - last[0]:.2f}s", flush=True)
        last[0] = now
    return mark


def _collect_mat(rows, n_rows: int, n_cols: int) -> np.ndarray:
    out = np.zeros((n_rows, n_cols))
    for r in rows:
        out[r.r, r.c] = r.v
    return out


def _wgrad_cells(D: DataFrame, side_feats: DataFrame) -> DataFrame:
    """(r, c, v) cell partial sums of Σ_nodes d ⊗ x for a node-level
    gradient frame D = (node_id, pos, gs) — the frame form of the ∂L/∂W
    reduction, returned UNcollected so many parameter reductions can
    fuse into one gradient-sync job (see _collect_tagged_cells)."""
    return (D.join(side_feats.select("node_id",
                                     F.col("emb").alias("_x")),
                   "node_id")
            .select(F.col("pos").alias("r"), "gs",
                    F.posexplode("_x").alias("c", "xc"))
            .groupBy("r", "c")
            .agg(F.sum(F.col("gs") * F.col("xc")).alias("v")))


def _collect_tagged_cells(tagged: list[tuple[str, DataFrame]]) -> dict:
    """ONE gradient-sync job per step (round-7 perf fix): union every
    (r, c, v) reduction frame with a tag column and collect once,
    instead of one driver job per parameter. A gradient step used to
    run ~12 tiny collects, each paying full plan/codegen/scheduling
    latency (~2 s on a 500-example batch — measured dominating the sf1
    sampled trainers); the fused union executes the shared lineage once
    and returns every parameter's cells in a single action. This is
    also the right cluster shape: one gradient barrier per step, not
    twelve. Per-group sums are unchanged, so gradients are numerically
    identical (anchor tests pin this). Returns {tag: [(r, c, v)...]}."""
    if not tagged:
        return {}
    frames = [df.select(F.lit(name).alias("k"), "r", "c", "v")
              for name, df in tagged]
    u = frames[0]
    for df in frames[1:]:
        u = u.unionByName(df)
    out: dict = {name: [] for name, _ in tagged}
    for row in u.collect():
        out[row.k].append(row)
    return out


def _stats_cells(ex: DataFrame) -> DataFrame:
    """The decoder stats sums as (r, c, v) reduction rows (r: 0=loss_sum,
    1=gb_sum, 2=n, 3=correct), so a gradient step's stats fuse into the
    SAME gradient-sync collect instead of paying their own driver job
    (round-8 step diet: the stats `.first()` was one of ~6 per-step jobs,
    each costing the full plan/codegen/scheduling floor that dominates
    sampled-trainer wall-clock locally). Values are the identical sums —
    counts as exact doubles (< 2^53), so the round-trip is lossless."""
    return (ex.agg(F.sum("_loss").alias("_l"), F.sum("_err").alias("_e"),
                   F.count("*").cast("double").alias("_n"),
                   F.sum((F.col("_yhat") == F.col("_y").cast("int"))
                         .cast("long")).cast("double").alias("_c"))
            .selectExpr("stack(4, 0, coalesce(_l, 0d), 1, coalesce(_e, 0d),"
                        " 2, _n, 3, coalesce(_c, 0d)) AS (r, v)")
            .select("r", F.lit(0).alias("c"), "v"))


def _parse_stats(rows) -> dict:
    """{loss, acc, n, gb} back out of the _stats_cells rows."""
    sv = {int(r.r): (float(r.v) if r.v is not None else 0.0) for r in rows}
    n = int(round(sv.get(2, 0.0)))
    return {"loss": (sv.get(0, 0.0) / n) if n else 0.0,
            "acc": (sv.get(3, 0.0) / n) if n else 0.0, "n": n,
            "gb": (sv.get(1, 0.0) / n) if n else 0.0}


def _backward_layer_frames(al: DataFrame, H: DataFrame, G: DataFrame,
                           emb_in: DataFrame, Wl: np.ndarray,
                           Wr: np.ndarray, a: np.ndarray,
                           dst_emb_in: DataFrame | None = None,
                           activation: str = "sigmoid"):
    """Backward through one attention layer given node-level ``G`` =
    (node_id, _g) = ∂L/∂h (already summed over all downstream paths).
    Returns UNcollected reduction frames (ga_cells, gWl_cells,
    gWr_cells, DSDT): the cell frames are (r, c, v) partial sums ready
    for the fused gradient-sync collect, and DSDT = (node_id, _dsa,
    _dta) is the node-level (∂L/∂s, ∂L/∂t) pair a deeper layer needs to
    continue the chain (∂L/∂emb_in = Wlᵀ·_dsa + Wrᵀ·_dta), left lazy so
    only a caller that chains pays for it.
    ``dst_emb_in`` / ``activation`` mirror attention_layer's bipartite +
    pre-activation modes ('none' → gm = g directly, no sigmoid
    chain)."""
    h = Wl.shape[0]
    a_lit = _arr_lit(a)
    demb_in = emb_in if dst_emb_in is None else dst_emb_in
    gm_expr = (F.expr("zip_with(_g, _h, (g, hh) -> g * hh * (1d - hh))")
               if activation == "sigmoid" else F.col("_g"))
    GM = (G.join(H, "node_id")
          .withColumn("_gm", gm_expr)
          .withColumn("_c", dot(F.col("_gm"), F.col("_m")))
          .select(F.col("node_id").alias("dst"), "_gm", "_c"))
    eb = (al.join(GM, "dst")
          .withColumn("_ge", F.col("_alpha")
                      * (dot(F.col("_gm"), F.col("_s")) - F.col("_c")))
          .withColumn("_dq", F.zip_with(
              "_q", a_lit,
              lambda q, ak: F.col("_ge") * ak
              * F.when(q > 0, F.lit(1.0)).otherwise(F.lit(_LEAKY))))
          .localCheckpoint(eager=False))
    ga_cells = (eb.select(F.posexplode(F.expr(
        "zip_with(_r, _q, (r, q) -> _ge * r)")).alias("pos", "gx"))
        .groupBy("pos").agg(F.sum("gx").alias("v"))
        .select(F.col("pos").alias("r"), F.lit(0).alias("c"), "v"))

    # node-level (∂L/∂s, ∂L/∂t) as h fixed-width column sums — one
    # shuffle each, no posexplode row blow-up, no (node, pos) shuffle,
    # no collect_list rebuild (round-7 stage diet; per-edge values are
    # algebraically identical to the old zip_with long form)
    ds_arr = (eb.groupBy(F.col("src").alias("node_id")).agg(
        *[F.sum(F.col("_alpha") * F.col("_gm").getItem(i)
                + F.col("_dq").getItem(i)).alias(f"_d{i}")
          for i in range(h)])
        .select("node_id", F.array(*[F.col(f"_d{i}") for i in range(h)])
                .alias("_dsa")))
    dt_arr = (eb.groupBy(F.col("dst").alias("node_id")).agg(
        *[F.sum(F.col("_dq").getItem(i)).alias(f"_d{i}")
          for i in range(h)])
        .select("node_id", F.array(*[F.col(f"_d{i}") for i in range(h)])
                .alias("_dta")))
    # map-only long views of the already-aggregated arrays feed the
    # per-parameter cell reductions
    gWl_cells = _wgrad_cells(
        ds_arr.select("node_id",
                      F.posexplode("_dsa").alias("pos", "gs")), emb_in)
    gWr_cells = _wgrad_cells(
        dt_arr.select("node_id",
                      F.posexplode("_dta").alias("pos", "gs")), demb_in)
    zeros = F.array_repeat(F.lit(0.0), h)
    DSDT = (ds_arr.join(dt_arr, "node_id", "full")
            .select("node_id",
                    F.coalesce("_dsa", zeros).alias("_dsa"),
                    F.coalesce("_dta", zeros).alias("_dta")))
    return ga_cells, gWl_cells, gWr_cells, DSDT


def _gat_epoch(edges: DataFrame, src_feats: DataFrame, dst_feats: DataFrame,
               examples: DataFrame, Wl: np.ndarray, Wr: np.ndarray,
               a: np.ndarray, b: float,
               with_grads: bool = True) -> dict:
    """One full-batch forward(+backward) pass of the bipartite layer +
    dot decoder; returns loss/acc/n/gb and — when ``with_grads`` — the
    parameter gradients ga/gWl/gWr (already /n). The layer is
    ``attention_layer`` and its backward ``_backward_layer_frames``;
    the decoder z = s_u·h_v + b adds one ∂L/∂W_l path of its own
    (Σ_v err·h_v per src u), reduced as one more cell frame. Stats and
    every cell come back in one collect."""
    h = Wl.shape[0]
    al, H = attention_layer(edges, src_feats, Wl, Wr, a, dst_emb=dst_feats)
    zeros = F.array_repeat(F.lit(0.0), h)
    ex = (examples
          .join(src_feats.select(
              F.col("node_id").alias("src"),
              linear_layer(F.col("emb"), Wl, activation=None).alias("_su")),
              "src")
          .join(H.select(F.col("node_id").alias("dst"),
                         F.col("_h").alias("_hv")), "dst", "left")
          .withColumn("_hv", F.coalesce("_hv", zeros)))
    zcol = dot(F.col("_su"), F.col("_hv")) + F.lit(float(b))
    p = sigmoid(F.greatest(F.least(zcol, F.lit(30.0)), F.lit(-30.0)))
    y = F.col("label").cast("double")
    ex = ex.select(
        "src", "dst", "_su", "_hv", y.alias("_y"), (p - y).alias("_err"),
        (-(y * F.log(p) + (1 - y) * F.log(1 - p))).alias("_loss"),
        (p > 0.5).cast("int").alias("_yhat"),
    ).localCheckpoint(eager=False)
    if not with_grads:
        return _parse_stats(_stats_cells(ex).collect())

    # decoder: ∂L/∂h_v = Σ err·s_u per dst feeds the layer backward;
    # ∂L/∂s_u = Σ err·h_v adds its own ∂L/∂W_l cells
    G = (ex.groupBy(F.col("dst").alias("node_id")).agg(
        *[F.sum(F.col("_err") * F.col("_su").getItem(i)).alias(f"_g{i}")
          for i in range(h)])
        .select("node_id",
                F.array(*[F.col(f"_g{i}") for i in range(h)]).alias("_g")))
    ga_c, gWl_c, gWr_c, _ = _backward_layer_frames(
        al, H, G, src_feats, Wl, Wr, a, dst_emb_in=dst_feats)
    dec_c = _wgrad_cells(
        ex.select(F.col("src").alias("node_id"),
                  F.posexplode(F.transform(
                      "_hv", lambda x: F.col("_err") * x))
                  .alias("pos", "gs")), src_feats)
    got = _collect_tagged_cells([
        ("stats", _stats_cells(ex)), ("ga", ga_c), ("Wl", gWl_c),
        ("Wr", gWr_c), ("dec", dec_c)])
    stats = _parse_stats(got["stats"])
    n = stats["n"] or 1        # n = 0: every cell list is empty → zeros
    d_s, d_d = Wl.shape[1], Wr.shape[1]
    stats["ga"] = [float(x) for x in _collect_mat(got["ga"], h, 1)[:, 0] / n]
    stats["gWl"] = (_collect_mat(got["Wl"], h, d_s)
                    + _collect_mat(got["dec"], h, d_s)) / n
    stats["gWr"] = _collect_mat(got["Wr"], h, d_d) / n
    return stats


def _stack_epoch(edges: DataFrame, feats: DataFrame, examples: DataFrame,
                 params: list[tuple], b: float,
                 with_grads: bool = True, quantize: bool = False) -> dict:
    """Full forward(+backward) through a k-layer homogeneous GAT stack
    with a symmetric dot decoder z = h_u·h_v + b over the FINAL
    embeddings. ``params`` = [(Wl, Wr, a), ...] outermost-first in
    forward order. Gradients chain down through every layer:
    ∂L/∂h^{l-1} = Wlᵀ·∂L/∂s^l + Wrᵀ·∂L/∂t^l, the same node-frame
    linear-map shape as the forward projections."""
    embs = [feats]           # layer inputs; embs[l] feeds layer l
    layers = []              # (al, H) per layer
    for (Wl, Wr, a) in params:
        al, H = attention_layer(edges, embs[-1], Wl, Wr, a,
                                quantize=quantize)
        layers.append((al, H))
        embs.append(H.select("node_id", F.col("_h").alias("emb")))

    hdim = params[-1][0].shape[0]
    zeros = F.array_repeat(F.lit(0.0), hdim)
    top = embs[-1]
    ex = (examples
          .join(top.select(F.col("node_id").alias("src"),
                           F.col("emb").alias("_hu")), "src", "left")
          .join(top.select(F.col("node_id").alias("dst"),
                           F.col("emb").alias("_hv")), "dst", "left")
          .withColumn("_hu", F.coalesce("_hu", zeros))
          .withColumn("_hv", F.coalesce("_hv", zeros)))
    zc = dot(F.col("_hu"), F.col("_hv")) + F.lit(float(b))
    p = sigmoid(F.greatest(F.least(zc, F.lit(30.0)), F.lit(-30.0)))
    y = F.col("label").cast("double")
    ex = ex.select(
        "src", "dst", "_hu", "_hv", y.alias("_y"), (p - y).alias("_err"),
        (-(y * F.log(p) + (1 - y) * F.log(1 - p))).alias("_loss"),
        (p > 0.5).cast("int").alias("_yhat")).localCheckpoint(eager=False)
    if not with_grads:
        return _parse_stats(_stats_cells(ex).collect())

    # symmetric decoder: ∂L/∂h_x = Σ err·h_other over both endpoint
    # roles — hdim fixed-width column sums in one shuffle (stage diet)
    G = (ex.select(F.col("src").alias("node_id"), "_err",
                   F.col("_hv").alias("_o"))
         .unionByName(ex.select(F.col("dst").alias("node_id"), "_err",
                                F.col("_hu").alias("_o")))
         .groupBy("node_id").agg(
             *[F.sum(F.col("_err") * F.col("_o").getItem(i))
               .alias(f"_g{i}") for i in range(hdim)])
         .select("node_id",
                 F.array(*[F.col(f"_g{i}") for i in range(hdim)])
                 .alias("_g")))

    # lazily chain every layer's reductions, then ONE fused
    # gradient-sync collect (same rationale as _hetero_epoch — stats
    # ride along under tag "stats" since round 8, one job per step)
    tagged: list[tuple[str, DataFrame]] = [("stats", _stats_cells(ex))]
    for li in range(len(params) - 1, -1, -1):
        Wl, Wr, a = params[li]
        al, H = layers[li]
        ga_c, gWl_c, gWr_c, DSDT = _backward_layer_frames(
            al, H, G, embs[li], Wl, Wr, a)
        tagged += [(f"L{li}:ga", ga_c), (f"L{li}:Wl", gWl_c),
                   (f"L{li}:Wr", gWr_c)]
        if li > 0:
            # chain to the previous layer's output h^{l-1}
            G = DSDT.localCheckpoint(eager=False).select(
                "node_id",
                F.zip_with(
                    linear_layer(F.col("_dsa"), Wl.T, activation=None),
                    linear_layer(F.col("_dta"), Wr.T, activation=None),
                    lambda x, yy: x + yy).alias("_g"))
    got = _collect_tagged_cells(tagged)
    stats = _parse_stats(got["stats"])
    n = stats["n"]
    if n == 0:
        stats["grads"] = [(np.zeros_like(Wl), np.zeros_like(Wr),
                           [0.0] * len(a)) for (Wl, Wr, a) in params]
        return stats
    grads: list[tuple] = [None] * len(params)
    for li, (Wl, Wr, a) in enumerate(params):
        h = Wl.shape[0]
        grads[li] = (
            _collect_mat(got[f"L{li}:Wl"], h, Wl.shape[1]) / n,
            _collect_mat(got[f"L{li}:Wr"], h, Wr.shape[1]) / n,
            [float(x) for x in
             _collect_mat(got[f"L{li}:ga"], h, 1)[:, 0] / n])
    stats["grads"] = grads
    return stats


def _stack_init(d_in: int, hidden: int, layers: int,
                seed: int) -> list[tuple]:
    """Seeded initial [(Wl, Wr, a), ...] of a k-layer GATv2 stack."""
    rng = np.random.default_rng(seed)
    params, dim = [], d_in
    for _ in range(layers):
        params.append((rng.normal(0, 0.5, size=(hidden, dim)),
                       rng.normal(0, 0.5, size=(hidden, dim)),
                       rng.normal(0, 0.5, size=hidden)))
        dim = hidden
    return params


def _stack_flat(params: list, b: float) -> list[float]:
    """The stack model's flat vector: per layer Wl, Wr, a, then b. Also
    flattens a gradient list of the same shape (``a`` may be a list)."""
    return _flat([x for layer in params for x in layer], b)


def _stack_unflat(v: list[float], like: list) -> tuple[list, float]:
    """Inverse of ``_stack_flat``; ``like`` gives the layer shapes."""
    arrs, b = _unflat(v, [np.shape(x) for layer in like for x in layer])
    return [tuple(arrs[i:i + 3]) for i in range(0, len(arrs), 3)], b


def train_gat_stack(edges: DataFrame, feats: DataFrame,
                    examples: DataFrame, hidden: int, layers: int = 2,
                    epochs: int = 5, lr: float = 0.05,
                    val_frac: float = 0.2, seed: int = 42,
                    weight_decay: float = 0.01,
                    optimizer: str = "adamw",
                    quantize: bool = False,
                    split_draw: str = "xxhash64") -> TrainResult:
    """End-to-end training of a k-layer homogeneous GATv2 stack — every
    layer's W_l/W_r/a learns by backprop (the reference trains all six
    GATv2Conv layers; this is the full-depth analog of train_gat_link).
    Decoder: z = h_u·h_v + b over final-layer embeddings.
    ``TrainResult.weights`` is the flat per-layer [Wl, Wr, a] vector.

    ``optimizer='sgd'`` is plain full-batch gradient descent (w -= lr·g,
    no moments, no decay) — the cross-engine-replayable config;
    combined with ``quantize=True`` (6-dp forwards) and
    ``split_draw='md5'`` it is what puts real multi-layer BACKPROP
    under the DuckDB retraining gate (q_gat_stack_train_q): the twin
    unrolls the same epochs, and the integer-derived accuracy history
    is immune to gradient-sum last-ulp divergence (the link_pred_train
    convention, round 8). The loop is ml/train.py::fit, one
    ``_stack_epoch`` step per epoch."""
    def prepare():
        return _stack_init(len(feats.select("emb").first()["emb"]), hidden,
                           layers, seed)

    def start(like, train, val, *_):
        def stats(frame, theta, with_grads):
            return _stack_epoch(edges, feats, frame,
                                *_stack_unflat(theta, like),
                                with_grads=with_grads, quantize=quantize)
        return _full_batch(_stack_flat(like, 0.0), stats,
                           lambda s: _stack_flat(s["grads"], s["gb"]),
                           train, val)

    return fit(examples, prepare, start, epochs, optimizer, lr,
               weight_decay, val_frac, seed, split_draw)


def _collect_keyed_cells(frames: list) -> dict:
    """ONE driver job for any number of (k, r, c, v) reduction frames
    that carry their OWN key column (the grouped-tag variant of
    _collect_tagged_cells, for plans where one frame holds many
    parameters' cells — the round-8 tagged-union hetero epoch). Returns
    {k: [rows...]} with keys appearing as the data dictates."""
    u = frames[0]
    for df in frames[1:]:
        u = u.unionByName(df)
    out: dict = {}
    for row in u.collect():
        out.setdefault(row.k, []).append(row)
    return out


def _hetero_epoch(graph_edges: dict, feats: dict, examples: DataFrame,
                  params: dict, b: float, src_type: str, dst_type: str,
                  with_grads: bool = True, quantize: bool = False) -> dict:
    """Forward(+backward) through the FULL hetero model shape
    (ml/hetero.py::hetero_gat_forward, reference model.py:92-94):

        h0_t  = σ(W0_t x_t)                      per-type input proj
        msg_e = GATv2(h0_s → h0_d), no act       per edge type (s,rel,d)
        h1_d  = σ(Wself_d h0_d + Σ_e→d msg_e)    aggr='sum' + self
        z     = h1_src·h1_dst + b                 link decoder

    Every parameter learns. params = {"W0": {t: h×d_t}, "Wself":
    {t: h×h}, "attn": {(s,rel,d): (Wl, Wr, a)}}.

    The forward is the frozen forward's own layer:
    ml/hetero.py::input_projection + ``hetero_layer``, the TAGGED-UNION
    plan that runs every edge type through one tag-unioned edge frame
    (per-tag CASE weights, a (tag, dt, dst) softmax window, a pivot +
    sorted-order aggr='sum' combine). The backward keeps that shape:
    the gradient reductions key on (tag, dst) / (nt, node_id) instead
    of one sub-plan per type, so the whole epoch is ~25 shuffle stages
    regardless of |edge types| and collects stats + every parameter's
    cells in ONE driver job — one gradient barrier per step, instead of
    a scheduler-bound forest of tiny per-type stages. Per-group sums are
    unchanged; cross-path accumulation order changes only within the
    numpy-twin tolerances (tests/test_gat_train.py pins gradients at
    rtol 1e-7).

    ``quantize=True`` (the hetero sampled trainer's hash gate) is
    ``hetero_layer``'s 6-dp float-parity convention on the forward:
    round(sigmoid, 6) input projections, round(exp(e-max), 6) softmax
    numerators + DECIMAL partition sums, round(α·s_i, 6) message terms +
    DECIMAL sums, round(sigmoid, 6) layer outputs. Gradients stay
    unquantized (the gated query outputs integer-derived
    accuracy/counts)."""
    hidden = next(iter(params["Wself"].values())).shape[0]
    types = sorted(feats)
    edge_types = sorted(params["attn"])
    etag = {et: "|".join(et) for et in edge_types}
    dims = range(hidden)

    N = input_projection(feats, params["W0"], quantize)
    al, msum, h1 = hetero_layer(graph_edges, N, params["attn"],
                                params["Wself"], quantize)

    zeros = F.array_repeat(F.lit(0.0), hidden)
    ex = (examples
          .join(h1.filter(F.col("nt") == src_type)
                .select(F.col("node_id").alias("src"),
                        F.col("emb").alias("_hu")), "src", "left")
          .join(h1.filter(F.col("nt") == dst_type)
                .select(F.col("node_id").alias("dst"),
                        F.col("emb").alias("_hv")), "dst", "left")
          .withColumn("_hu", F.coalesce("_hu", zeros))
          .withColumn("_hv", F.coalesce("_hv", zeros)))
    zc = dot(F.col("_hu"), F.col("_hv")) + F.lit(float(b))
    p = sigmoid(F.greatest(F.least(zc, F.lit(30.0)), F.lit(-30.0)))
    y = F.col("label").cast("double")
    ex = ex.select(
        "src", "dst", "_hu", "_hv", y.alias("_y"), (p - y).alias("_err"),
        (-(y * F.log(p) + (1 - y) * F.log(1 - p))).alias("_loss"),
        (p > 0.5).cast("int").alias("_yhat"))
    ex = _cut(ex)
    if not with_grads:
        return _parse_stats(_stats_cells(ex).collect())

    # ---- backward: every reduction keyed by its own (k, r, c, v) tag,
    # stats included, ONE fused collect ----
    keyed = [_stats_cells(ex).select(F.lit("stats").alias("k"),
                                     "r", "c", "v")]

    # decoder → per-type ∂L/∂h1 (src/dst roles may share a type — the
    # groupBy merges them), then the output sigmoid chain
    derr = (ex.select(F.lit(src_type).alias("nt"),
                      F.col("src").alias("node_id"), "_err",
                      F.col("_hv").alias("_o"))
            .unionByName(ex.select(F.lit(dst_type).alias("nt"),
                                   F.col("dst").alias("node_id"), "_err",
                                   F.col("_hu").alias("_o"))))
    GN = (derr.groupBy("nt", "node_id").agg(
        *[F.sum(F.col("_err") * F.col("_o").getItem(i)).alias(f"_g{i}")
          for i in dims])
        .select("nt", "node_id",
                F.array(*[F.col(f"_g{i}") for i in dims]).alias("_g")))
    gp = (GN.join(h1, ["nt", "node_id"])
          .select("nt", "node_id", F.expr(
              "zip_with(_g, emb, (g, hh) -> g * hh * (1d - hh))")
              .alias("_g")))
    gp = _cut(gp)

    def _outer_keyed(D, side, key_expr, dcol="_d"):
        """Σ d ⊗ x cells for a keyed node-gradient frame ``D`` joined to
        node frame ``side`` on (nt, node_id): → (k, r, c, v) rows."""
        j = D.join(side.select("nt", "node_id", F.col("emb").alias("_x")),
                   ["nt", "node_id"])
        grp = ("tag",) if "tag" in D.columns else ("nt",)
        l1 = j.select(*grp, "_x", F.posexplode(dcol).alias("r", "gs"))
        l2 = l1.select(*grp, "r", "gs", F.posexplode("_x").alias("c", "xc"))
        return (l2.groupBy(*grp, "r", "c")
                .agg(F.sum(F.col("gs") * F.col("xc")).alias("v"))
                .select(key_expr.alias("k"), "r", "c", "v"))

    keyed.append(_outer_keyed(
        gp, N, F.concat(F.lit("Wself:"), F.col("nt")), dcol="_g"))

    # attention backward, all edge types in one plan
    GMt = (msum.join(gp.select(F.col("nt").alias("dt"),
                               F.col("node_id").alias("dst"),
                               F.col("_g").alias("_gm")), ["dt", "dst"])
           .select("tag", "dt", "dst", "_gm",
                   sum((F.col("_gm").getItem(i) * F.col(f"_m{i}")
                        for i in dims), F.lit(0.0)).alias("_c")))
    eb = (al.join(GMt.select("tag", "dt", "dst", "_gm", "_c"),
                  ["tag", "dt", "dst"])
          .withColumn("_ge", F.col("_alpha")
                      * (dot(F.col("_gm"), F.col("_s")) - F.col("_c")))
          .withColumn("_dq", F.zip_with(
              "_q", F.col("_av"),
              lambda q, ak: F.col("_ge") * ak
              * F.when(q > 0, F.lit(1.0)).otherwise(F.lit(_LEAKY)))))
    eb = _cut(eb)
    keyed.append(
        eb.select("tag", F.posexplode(F.expr(
            "zip_with(_r, _q, (r, q) -> _ge * r)")).alias("pos", "gx"))
        .groupBy("tag", "pos").agg(F.sum("gx").alias("v"))
        .select(F.concat(F.lit("attn_ga:"), F.col("tag")).alias("k"),
                F.col("pos").alias("r"), F.lit(0).alias("c"), "v"))
    ds_arr = (eb.groupBy("tag", F.col("st").alias("nt"),
                         F.col("src").alias("node_id")).agg(
        *[F.sum(F.col("_alpha") * F.col("_gm").getItem(i)
                + F.col("_dq").getItem(i)).alias(f"_d{i}") for i in dims])
        .select("tag", "nt", "node_id",
                F.array(*[F.col(f"_d{i}") for i in dims]).alias("_d")))
    dt_arr = (eb.groupBy("tag", F.col("dt").alias("nt"),
                         F.col("dst").alias("node_id")).agg(
        *[F.sum(F.col("_dq").getItem(i)).alias(f"_d{i}") for i in dims])
        .select("tag", "nt", "node_id",
                F.array(*[F.col(f"_d{i}") for i in dims]).alias("_d")))
    keyed.append(_outer_keyed(
        ds_arr, N, F.concat(F.lit("attn_Wl:"), F.col("tag"))))
    keyed.append(_outer_keyed(
        dt_arr, N, F.concat(F.lit("attn_Wr:"), F.col("tag"))))

    # ∂L/∂h0: Wself/Wl/Wr transposes applied per tag (map-side CASE),
    # every path accumulated in one (nt, node_id) groupBy
    cW = gp.select("nt", "node_id", _case(F.col("nt"), {
        t: linear_layer(F.col("_g"), params["Wself"][t].T, activation=None)
        for t in types}).alias("_g"))
    cS = ds_arr.select("nt", "node_id", _case(F.col("tag"), {
        etag[et]: linear_layer(F.col("_d"), params["attn"][et][0].T,
                               activation=None)
        for et in edge_types}).alias("_g"))
    cT = dt_arr.select("nt", "node_id", _case(F.col("tag"), {
        etag[et]: linear_layer(F.col("_d"), params["attn"][et][1].T,
                               activation=None)
        for et in edge_types}).alias("_g"))
    Gh0 = (cW.unionByName(cS).unionByName(cT)
           .groupBy("nt", "node_id").agg(
               *[F.sum(F.col("_g").getItem(i)).alias(f"_g{i}")
                 for i in dims])
           .select("nt", "node_id",
                   F.array(*[F.col(f"_g{i}") for i in dims]).alias("_g")))
    gm0 = (Gh0.join(N, ["nt", "node_id"])
           .select("nt", "node_id", F.expr(
               "zip_with(_g, emb, (g, hh) -> g * hh * (1d - hh))")
               .alias("_d")))
    keyed.append(_outer_keyed(
        gm0, tag_nodes(feats), F.concat(F.lit("W0:"), F.col("nt"))))

    got = _collect_keyed_cells(keyed)
    stats = _parse_stats(got["stats"])
    n = stats["n"]
    if n == 0:
        return stats
    grads = {
        "W0": {t: np.zeros_like(params["W0"][t]) for t in types},
        "Wself": {t: np.zeros_like(params["Wself"][t]) for t in types},
        "attn": {et: (np.zeros_like(params["attn"][et][0]),
                      np.zeros_like(params["attn"][et][1]),
                      [0.0] * hidden) for et in edge_types},
    }
    for t in types:
        if f"Wself:{t}" in got:
            grads["Wself"][t] = _collect_mat(
                got[f"Wself:{t}"], hidden, hidden) / n
        if f"W0:{t}" in got:
            grads["W0"][t] = _collect_mat(
                got[f"W0:{t}"], hidden, params["W0"][t].shape[1]) / n
    for et in edge_types:
        k = etag[et]
        if f"attn_ga:{k}" in got:
            Wl, Wr, _a = params["attn"][et]
            grads["attn"][et] = (
                _collect_mat(got.get(f"attn_Wl:{k}", []), hidden,
                             Wl.shape[1]) / n,
                _collect_mat(got.get(f"attn_Wr:{k}", []), hidden,
                             Wr.shape[1]) / n,
                [float(x) for x in
                 _collect_mat(got[f"attn_ga:{k}"], hidden, 1)[:, 0] / n])
    stats["grads"] = grads
    return stats


def _hetero_init(dims: dict, edge_types: list, hidden: int,
                 seed: int) -> dict:
    """Seeded initial hetero params ({"W0", "Wself", "attn"}, the
    ``_hetero_epoch`` layout) for node types with input widths
    ``dims``."""
    rng = np.random.default_rng(seed)
    types = sorted(dims)
    return {
        "W0": {t: rng.normal(0, 0.5, size=(hidden, dims[t]))
               for t in types},
        "Wself": {t: rng.normal(0, 0.5, size=(hidden, hidden))
                  for t in types},
        "attn": {et: (rng.normal(0, 0.5, size=(hidden, hidden)),
                      rng.normal(0, 0.5, size=(hidden, hidden)),
                      rng.normal(0, 0.5, size=hidden))
                 for et in sorted(edge_types)},
    }


def _hetero_arrays(ps: dict) -> list:
    """The hetero arrays in flat-vector order: W0 per sorted type,
    Wself per sorted type, then (Wl, Wr, a) per sorted edge type."""
    return ([ps["W0"][t] for t in sorted(ps["W0"])]
            + [ps["Wself"][t] for t in sorted(ps["Wself"])]
            + [x for et in sorted(ps["attn"]) for x in ps["attn"][et]])


def _hetero_flat(ps: dict, b: float) -> list[float]:
    """The hetero model's flat vector (also flattens its gradients)."""
    return _flat(_hetero_arrays(ps), b)


def _hetero_unflat(v: list[float], like: dict) -> tuple[dict, float]:
    """Inverse of ``_hetero_flat``; ``like`` gives the shapes and keys."""
    arrs, b = _unflat(v, [np.shape(x) for x in _hetero_arrays(like)])
    it = iter(arrs)
    types = sorted(like["W0"])
    return {"W0": {t: next(it) for t in types},
            "Wself": {t: next(it) for t in types},
            "attn": {et: (next(it), next(it), next(it))
                     for et in sorted(like["attn"])}}, b


def train_hetero_gat(graph_edges: dict, feats: dict, examples: DataFrame,
                     src_type: str, dst_type: str, hidden: int,
                     epochs: int = 3, lr: float = 0.05,
                     val_frac: float = 0.2, seed: int = 42,
                     weight_decay: float = 0.01) -> TrainResult:
    """End-to-end training of the full heterogeneous model: per-type
    input projections, per-edge-type GATv2 attention, aggr='sum' +
    self transform, dot decoder — EVERY parameter learns by backprop
    (the to_hetero training the reference runs, train.py:72-80).
    ``graph_edges``: {(src_type, rel, dst_type): (src, dst) DataFrame};
    ``feats``: {type: (node_id, emb)}; ``examples``: (src, dst, label)
    between ``src_type`` and ``dst_type`` nodes. The loop is
    ml/train.py::fit, one ``_hetero_epoch`` AdamW step per epoch."""
    def prepare():
        return _hetero_init(
            {t: len(feats[t].select("emb").first()["emb"])
             for t in sorted(feats)},
            sorted(graph_edges), hidden, seed)

    def start(like, train, val, *_):
        def stats(frame, theta, with_grads):
            return _hetero_epoch(graph_edges, feats, frame,
                                 *_hetero_unflat(theta, like), src_type,
                                 dst_type, with_grads=with_grads)
        return _full_batch(_hetero_flat(like, 0.0), stats,
                           lambda s: _hetero_flat(s["grads"], s["gb"]),
                           train, val)

    return fit(examples, prepare, start, epochs, "adamw", lr,
               weight_decay, val_frac, seed)


def train_gat_link(edges: DataFrame, src_feats: DataFrame,
                   dst_feats: DataFrame, examples: DataFrame,
                   hidden: int, epochs: int = 5, lr: float = 0.05,
                   val_frac: float = 0.2, seed: int = 42,
                   weight_decay: float = 0.01) -> TrainResult:
    """End-to-end training of the bipartite GATv2 layer + dot decoder.

    ``edges``: the message graph (src, dst) — typically the positive
    edges. ``src_feats``/``dst_feats``: (node_id, emb array<double>)
    per side. ``examples``: (src, dst, label). Full-batch AdamW with
    best-val-accuracy checkpointing (L9/L11). ``TrainResult.weights``
    is the flat [Wl, Wr, a] vector (driver-size: h·(d_s+d_d)+h floats)
    so callers/tests can watch the attention parameters move. The loop
    is ml/train.py::fit, one ``_gat_epoch`` step per epoch.
    """
    def prepare():
        d_s = len(src_feats.select("emb").first()["emb"])
        d_d = len(dst_feats.select("emb").first()["emb"])
        rng = np.random.default_rng(seed)
        return [(rng.normal(0, 0.5, size=(hidden, d_s)),
                 rng.normal(0, 0.5, size=(hidden, d_d)),
                 rng.normal(0, 0.5, size=hidden))]

    def start(like, train, val, *_):
        def stats(frame, theta, with_grads):
            [(Wl, Wr, a)], b = _stack_unflat(theta, like)
            return _gat_epoch(edges, src_feats, dst_feats, frame, Wl, Wr,
                              a, b, with_grads=with_grads)
        return _full_batch(
            _stack_flat(like, 0.0), stats,
            lambda s: _stack_flat([(s["gWl"], s["gWr"], s["ga"])], s["gb"]),
            train, val)

    return fit(examples, prepare, start, epochs, "adamw", lr,
               weight_decay, val_frac, seed)


def _batch_closure(samp: DataFrame, seeds: dict, edge_types: list,
                   feats: dict) -> tuple[dict, dict]:
    """(sampled per-type message edges, per-type feature restriction)
    for a closure: edges grouped back by edge type, and feats cut to
    the dependency closure (seeds ∪ every endpoint of a sampled edge).
    Gradients only flow through seed embeddings, so this closure is
    exactly what the full epoch would touch for these examples.

    Used for the sampled trainers' once-per-run validation closure (one
    materialization, up to 2×epochs readers when the distributed val
    forward runs). The whole closure materializes in ONE eager
    localCheckpoint (a tagged union of every per-type edge/feature
    frame): leaving it lazy made each reading job re-execute the
    closure filters/joins, while checkpointing each frame separately
    paid ~4 driver jobs of scheduling floor (round 7). The returned
    sub/fcut frames are plain filters of the RAM-resident union."""
    samp = samp.localCheckpoint(eager=True)  # one sampling pass, k readers
    allc = _closure_union(samp, seeds, edge_types, feats)
    allc = allc.localCheckpoint(eager=True)
    sub = {et: allc.filter((F.col("kind") == "e")
                           & (F.col("tag") == "|".join(et)))
           .select("src", "dst") for et in edge_types}
    fcut = {t: allc.filter((F.col("kind") == "f") & (F.col("tag") == t))
            .select("node_id", "emb") for t in feats}
    return sub, fcut


def _closure_union(samp: DataFrame, seeds: dict, edge_types: list,
                   feats: dict, broadcast_ids: bool = False) -> DataFrame:
    """The tagged union frame behind _batch_closure — (kind, tag, src,
    dst, node_id, emb) rows holding one batch's per-type sampled edges
    (kind='e', deduplicated) and closure-cut features (kind='f').
    Shared by _batch_closure (the validation closure, split back into
    per-type frames) and the local step engine (which collects every
    training batch's closure).

    ``broadcast_ids=True`` forces the feature-cut join's id side into a
    broadcast hash join — correct whenever the closure is BATCH-bounded
    (O(batch × fanout^layers) ids by the sampling contract): without
    the hint, a multi-batch union plan shuffles the FULL feature frame
    once per batch branch (measured: 20 fused batch closures at sf1 ran
    a 1,136-task exchange storm, ~15 s/batch — slower than the per-step
    jobs the local engine replaced). Leave False for UNBOUNDED closures
    (the full-neighborhood validation cut), which must stay a real
    shuffle join at scale."""
    arr_null = F.lit(None).cast("array<double>")
    long_null = F.lit(None).cast("bigint")
    parts = []
    for (s, rel, d) in edge_types:
        parts.append(samp.filter(
            (F.col("src_table") == s) & (F.col("relation") == rel)
            & (F.col("dst_table") == d))
            .select("src", "dst").distinct()
            .select(F.lit("e").alias("kind"),
                    F.lit("|".join((s, rel, d))).alias("tag"),
                    "src", "dst", long_null.alias("node_id"),
                    arr_null.alias("emb")))
    for t in feats:
        idp = []
        if t in seeds:
            idp.append(seeds[t])
        idp.append(samp.filter(F.col("src_table") == t)
                   .select(F.col("src").alias("node_id")))
        idp.append(samp.filter(F.col("dst_table") == t)
                   .select(F.col("dst").alias("node_id")))
        ids = idp[0]
        for p in idp[1:]:
            ids = ids.unionAll(p)
        idset = ids.distinct()
        if broadcast_ids:
            idset = F.broadcast(idset)
        parts.append(feats[t].join(idset, "node_id")
                     .select(F.lit("f").alias("kind"),
                             F.lit(t).alias("tag"),
                             long_null.alias("src"),
                             long_null.alias("dst"), "node_id", "emb"))
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    return allc


#: rows the once-per-run val-closure collect may fetch: the val closure
#: is O(|val| × full neighborhoods), NOT batch-bounded, so past this the
#: distributed DataFrame forward stays the evaluation path (the
#: limit+collect is one job; an over-limit fetch is discarded)
_VAL_COLLECT_ROWS = 5_000_000


def _sampled_fit(examples: DataFrame, prep, codec, sample,
                 closure_frame, parse, local_epoch, val_closure, *,
                 seed_types: tuple, n_edge_types: int, epochs: int,
                 batch_size: int, max_batches: int | None,
                 lr: float, val_frac: float, seed: int,
                 weight_decay: float, optimizer: str, split_draw: str,
                 batch_draw: str, sample_draw: str) -> TrainResult:
    """The sampled-epoch driver both sampled trainers run on, inside
    ml/train.py::fit. It moves the data; the model plugs in its own
    operators:

    * ``prep() -> like``: one-time feature materialization and the
      seeded initial parameters, run before the split (``fit``'s
      prepare); ``codec = (flat, unflat)`` maps them to and from the
      flat vector the stepper updates.
    * ``sample(frontiers, seeds) -> {tag: sampled edges}``: the fused
      multi-batch sampler call over the trainer's edge source (its
      frames, or the edge-store tables it was given). ``frontiers`` is
      {tag: {node type: ids}}, an example's endpoints typed by
      ``seed_types`` = (src type, dst type); ``seeds`` is {tag: that
      batch's sampling seed}.
    * ``closure_frame(batch, samp)``: one batch's closure, given its
      sampled edges, as a tagged-row frame (kind='x' rows carry the
      batch examples, label riding in node_id).
    * ``parse(rows)``: collected closure rows → the local engine's
      arrays; ``local_epoch(closure, params, b, with_grads)`` → stats:
      the ml/local_step.py forward(+backward).
    * ``val_closure(val) -> (frame, fallback)``: the val set's
      full-neighborhood closure as a ``parse``-able frame, and the
      distributed forward ``fallback(params, b)`` over it.

    Per epoch, batch membership is content-addressed — hash(src, dst,
    seed+epoch) mod n_batches (ml/train.py's L4 idiom: the reshuffle is
    deterministic yet differs across epochs; each batch is a FILTER
    over the cached split; ``batch_draw='md5'`` is the DuckDB-replayable
    variant, the first-8-hex-chars parse of operators/split.py).
    ``max_batches`` caps steps per epoch. Each epoch's closures arrive
    in chunked collect jobs, and every batch takes one optimizer step
    in the local engine: milliseconds per step instead of the measured
    ~5-6 s of Catalyst re-analysis + ~25-stage scheduling a per-step
    DataFrame job paid, while per-step data stays O(batch ×
    fanout^layers) by the sampling bound. Sampling and closure fetches
    run ahead of the steps on a prefetch thread (``prefetch_group``).

    Validation forwards the val closure computed ONCE per run (it is
    parameter-independent): collected once and run locally, unless it
    exceeds ``_VAL_COLLECT_ROWS`` or the run is a single epoch, in
    which case the distributed fallback evaluates it."""
    for draw in (split_draw, batch_draw, sample_draw):
        check_draw(draw)
    flat, unflat = codec
    fuse = _fuse_width(n_edge_types)
    mark = _phase_clock()

    def prepare():
        like = prep()
        mark("feats ckpt + dims")
        return like

    def start(like, train, val, n_train, n_val, scope):
        mark("split + counts")
        n_batches = max(1, -(-n_train // max(1, batch_size)))
        steps = (n_batches if max_batches is None
                 else min(n_batches, max_batches))

        def member(epoch: int) -> F.Column:
            return draw_bucket(
                draw_key(("src", "dst"), (seed + epoch,), batch_draw),
                batch_draw, n_batches)

        def fetch(pairs: list, samp_by_pair: dict) -> dict:
            """{(epoch, batch): parsed closure} in collect jobs of
            ``fuse`` closures each, chunked ACROSS epochs (the fuse
            width bounds Catalyst analysis like the fused sampler's)."""
            out: dict = {}
            for lo in range(0, len(pairs), fuse):
                u = None
                for pi, (ep, bi) in enumerate(pairs[lo:lo + fuse],
                                              start=lo):
                    part = closure_frame(
                        train.filter(member(ep) == bi),
                        samp_by_pair[(ep, bi)]).withColumn("_pi", F.lit(pi))
                    u = part if u is None else u.unionByName(part)
                rows_by_pi: dict = {}
                for r in u.collect():
                    rows_by_pi.setdefault(int(r["_pi"]), []).append(r)
                for pi, rows in rows_by_pi.items():
                    out[pairs[pi]] = parse(rows)
            return out

        def prefetch_group(egroup: tuple) -> dict:
            """Round 12: ONE fused sampling + closure-fetch pipeline for
            a GROUP of epochs. Membership and hash draws are
            parameter-independent across epochs exactly as across
            batches, so the sampler probes ONCE per hop for the union
            frontier (two concurrent per-epoch pipelines measured
            17.3+17.7 s overlapped at sf1). Per-(epoch, batch) draws are
            bit-identical to a one-batch ``sample_incoming*`` call with
            that batch's seed: the fused samplers restrict each tag by
            its own frontier and literal seed whichever tags share the
            probe (tests/test_edge_store.py). Returns {epoch: {bi:
            closure}}."""
            tick = _phase_clock()
            label = f"e{list(egroup)} prefetch"
            tagged = None
            for e in egroup:
                te = (train.withColumn("_bi", member(e))
                      .filter(F.col("_bi") < steps)
                      .withColumn("_e", F.lit(int(e))))
                tagged = te if tagged is None else tagged.unionByName(te)
            src, dst = (tagged.select("_e", "_bi", F.lit(t).alias("_t"),
                                      F.col(c).alias("node_id"))
                        for t, c in zip(seed_types, ("src", "dst")))
            su = src.unionByName(dst).distinct()
            pairs = [(e, bi) for e in egroup for bi in range(steps)]
            fr: dict = {p: {} for p in pairs}
            for r in su.collect():
                fr[(int(r["_e"]), int(r["_bi"]))].setdefault(
                    r["_t"], []).append(r["node_id"])
            tick(f"{label}: membership collect")
            tagof = {p: i for i, p in enumerate(pairs)}  # dense tags
            samp: dict = {}
            for lo in range(0, len(pairs), fuse):
                chunk = pairs[lo:lo + fuse]
                res = sample(
                    {tagof[p]: fr[p] for p in chunk},
                    {tagof[p]: seed + 7919 * p[0] + 104729 * p[1]
                     for p in chunk})
                samp.update({p: res[tagof[p]] for p in chunk})
            tick(f"{label}: fused sampler")
            got = fetch(pairs, samp)
            tick(f"{label}: closure fetch")
            return {e: {bi: got[(e, bi)] for bi in range(steps)
                        if (e, bi) in got}
                    for e in egroup}

        # The bucket-scan planner override is held for the WHOLE run
        # (session confs are not thread-local — per-prefetch set/unset
        # from the background thread would flicker under the main
        # thread's planning; inside the trainer the only bucketed-table
        # scans are edge-store probes, which want it off anyway, and it
        # has no effect on frames that are not bucketed). The local
        # steps are milliseconds — nothing to hide sampling behind — so
        # a TWO-epoch window of sampling + closure fetches stays in
        # flight as one fused group: epochs 0-1 overlap the val-closure
        # build below, each later group the epochs before it. Memory
        # stays bounded: ≤ depth epochs of batch-bounded closures.
        futs, pending = {}, {}
        depth = min(2, epochs)
        scope.enter_context(_forced_bucketed_scan(examples.sparkSession))
        pool = ThreadPoolExecutor(max_workers=1)
        scope.callback(pool.shutdown, wait=True)
        futs[0] = pool.submit(prefetch_group, tuple(range(depth)))

        # an empty val split scores 0 loss / 0 accuracy, as the
        # distributed forward over no examples does
        fallback, val_local = (lambda *_: {"loss": 0.0, "acc": 0.0}), None
        if n_val:
            vframe, fallback = val_closure(val)
            mark("val closure")
            if epochs >= 2:
                # the collect pays off once it replaces ≥2 distributed
                # val forwards (measured at sf1 uncapped: collect ~36 s
                # vs ~16 s per distributed forward — ADVICE r11)
                rows = vframe.limit(_VAL_COLLECT_ROWS + 1).collect()
                if len(rows) <= _VAL_COLLECT_ROWS:
                    val_local = parse(rows)
                mark("val closure collect (local)")

        def train_epoch(epoch, theta, step):
            if epoch in futs:
                pending.update(futs.pop(epoch).result())
                nxt = epoch + depth
                if nxt < epochs:
                    futs[nxt] = pool.submit(
                        prefetch_group,
                        tuple(range(nxt, min(nxt + depth, epochs))))
            closures = pending.pop(epoch)
            mark(f"e{epoch} prefetch join")
            losses, ns = [], []
            for bi, closure in sorted(closures.items()):
                stats = local_epoch(closure, *unflat(theta, like), True)
                mark(f"e{epoch} b{bi} local step")
                if stats["n"] == 0:
                    continue
                theta = step(theta, flat(stats["grads"], stats["gb"]))
                losses.append(stats["loss"] * stats["n"])
                ns.append(stats["n"])
            n_seen = sum(ns)
            return theta, {
                "train_loss": (sum(losses) / n_seen) if n_seen else 0.0,
                "train_n": n_seen}

        def val_stats(theta):
            params, b = unflat(theta, like)
            stats = (fallback(params, b) if val_local is None
                     else local_epoch(val_local, params, b, False))
            mark("val forward")
            return stats

        return flat(like, 0.0), train_epoch, val_stats

    return fit(examples, prepare, start, epochs, optimizer, lr,
               weight_decay, val_frac, seed, split_draw)


def _typed_seeds(df: DataFrame, src_type: str, dst_type: str) -> dict:
    """{node type: node_id frame} of an example frame's endpoints."""
    seeds = {src_type: df.select(F.col("src").alias("node_id"))}
    dst = df.select(F.col("dst").alias("node_id"))
    seeds[dst_type] = (seeds[dst_type].unionAll(dst)
                       if dst_type in seeds else dst)
    return seeds


def train_hetero_gat_sampled(graph_edges: dict, feats: dict,
                             examples: DataFrame, src_type: str,
                             dst_type: str, hidden: int,
                             fanouts: list[int] | None = None,
                             batch_size: int = 512,
                             max_batches: int | None = None,
                             epochs: int = 3, lr: float = 0.05,
                             val_frac: float = 0.2, seed: int = 42,
                             weight_decay: float = 0.01,
                             edge_tables: dict | None = None,
                             optimizer: str = "adamw",
                             quantize: bool = False,
                             split_draw: str = "xxhash64",
                             batch_draw: str = "xxhash64",
                             sample_draw: str = "xxhash64") -> TrainResult:
    """Sampled MINI-BATCH training of the full hetero model — the
    LinkNeighborLoader regime the reference actually trains in
    (dataloader.py:24-51, tuning.py:53: per-layer fanout 15, batch 512,
    shuffle=True) — composing operators/sampling.py (L2) into the L10
    trainer. Full-batch ``train_hetero_gat`` keeps one gradient step
    per epoch over the whole graph; this takes one AdamW step per
    mini-batch over a sampled dependency subgraph, which is what makes
    GNN training tractable once the graph no longer fits an epoch.

    The epoch loop is ``_sampled_fit`` (content-addressed batches,
    fused-sampling prefetch, chunked closure fetch, local steps, val
    closure). Per batch: seeds = the batch's endpoint nodes; the
    message graph is ``sample_incoming_hetero``'s (≤ fanout in-edges
    per node per edge type, expanding backward through message flow),
    drawn for many batches at once by
    ``sample_incoming_hetero_store_multi``;
    features are cut to the sampled closure (``_closure_union``); the
    step runs in ml/local_step.py::hetero_epoch_local, pinned against
    ``_hetero_epoch`` (whose numpy and finite-difference crosschecks
    are the reference) by tests/test_local_step.py. Per-batch shuffle
    volume is O(fanout × batch_size), independent of |E|.

    Validation runs fanout=-1 (full neighborhoods — the reference's
    eval mode, dataloader.py:33) with no grads, restricted to the val
    set's dependency closure, so per-epoch val cost is O(|closure|),
    not O(|E|); the distributed fallback is ``_hetero_epoch``.

    Exactness anchor (tested): with fanout ≥ max in-degree and a single
    batch, every sampled epoch reproduces the full-batch epoch —
    gradients only flow through seed-node embeddings, so the dropped
    edges are exactly the zero-gradient ones.

    ``edge_tables`` ({edge_type: table_name} from
    sources.bucketed.write_edge_store) picks only the sampler probe's
    source: each hop's frontier is pushed as an In(dst) filter into the
    dst-bucketed+sorted tables, pruning the scan to ~|frontier|
    buckets/row groups, instead of filtering ``graph_edges`` (linear
    in |E| — the sf1 audit's bottleneck). The sampled edges are
    bit-identical either way (tested), so the exactness anchor carries
    over unchanged. The val closure always reads ``graph_edges``.

    ``optimizer='sgd'`` + ``quantize=True`` + md5 ``split_draw`` /
    ``batch_draw`` / ``sample_draw`` is the cross-engine-replayable
    config (the train_gat_stack_sampled convention carried to the
    FLAGSHIP hetero trainer — round 10, the last rows-only tier):
    DuckDB then replays the md5 split, batch membership, every edge
    type's md5 in-edge draws, the quantized hetero forwards, and the
    per-batch plain-GD steps, putting the whole sampled hetero loop
    under the hash gate (q_hetero_link_train_sampled_q). md5 draws
    require non-null src/dst (null-dropped edge frames guarantee it).
    """
    from rel_db_to_graph_spark.ml.local_step import parse_closure_rows

    fanouts = list(fanouts) if fanouts is not None else [15]
    types = sorted(feats)
    edge_types = sorted(graph_edges)

    def prep():
        nonlocal feats
        # materialize the feature frames ONCE per run (round-8 step
        # diet): every per-batch closure joins feats, and a lazy plan
        # would re-materialize the whole upstream feature lineage's AQE
        # stages on every batch (measured ~30 stage-jobs per closure at
        # sf0.01)
        feats = {t: f.localCheckpoint(eager=True) for t, f in feats.items()}
        return _hetero_init(
            {t: len(feats[t].select("emb").first()["emb"]) for t in types},
            edge_types, hidden, seed)

    def sample(frontiers, seeds):
        spark = examples.sparkSession
        src = (graph_edges if edge_tables is None
               else {et: spark.table(t) for et, t in edge_tables.items()})
        return sample_incoming_hetero_store_multi(
            spark, src, frontiers, fanouts, seeds, draw=sample_draw)

    def x_rows(df):
        return df.select(
            F.lit("x").alias("kind"), F.lit("").alias("tag"), "src", "dst",
            F.col("label").cast("bigint").alias("node_id"),
            F.lit(None).cast("array<double>").alias("emb"))

    def closure_frame(batch, samp):
        return _closure_union(samp.localCheckpoint(eager=False),
                              _typed_seeds(batch, src_type, dst_type),
                              edge_types, feats, broadcast_ids=True
                              ).unionByName(x_rows(batch))

    def local_epoch(closure, params, b, with_grads):
        return hetero_epoch_local(*closure, params, b, src_type, dst_type,
                                  with_grads=with_grads, quantize=quantize)

    def val_closure(val):
        # full in-neighborhoods ([-1] fanouts) of the val endpoints, one
        # hop per layer, restricted to what the forward reads: the same
        # per-dst edge sets feed every softmax/sum as the full graph
        # (test_val_closure_matches_full_graph), and the full edge
        # frames are scanned once here, not once per epoch
        vseeds = _typed_seeds(val, src_type, dst_type)
        sub, fcut = graph_edges, feats
        try:
            vsamp = sample_incoming_hetero(
                graph_edges, vseeds, [-1] * len(fanouts), seed=seed)
        except ValueError:      # no edge type reaches any val endpoint
            vsamp = None
        if vsamp is not None:
            # _batch_closure RAM-checkpoints every returned frame
            sub, fcut = _batch_closure(vsamp, vseeds, edge_types, feats)
        arr_null = F.lit(None).cast("array<double>")
        long_null = F.lit(None).cast("bigint")
        parts = [sub[et].select(
            F.lit("e").alias("kind"), F.lit("|".join(et)).alias("tag"),
            "src", "dst", long_null.alias("node_id"), arr_null.alias("emb"))
            for et in edge_types]
        parts += [fcut[t].select(
            F.lit("f").alias("kind"), F.lit(t).alias("tag"),
            long_null.alias("src"), long_null.alias("dst"), "node_id", "emb")
            for t in types]
        u = reduce(DataFrame.unionByName, parts + [x_rows(val)])
        return u, lambda params, b: _hetero_epoch(
            sub, fcut, val, params, b, src_type, dst_type,
            with_grads=False, quantize=quantize)

    return _sampled_fit(
        examples, prep, (_hetero_flat, _hetero_unflat), sample,
        closure_frame, lambda rows: parse_closure_rows(rows, edge_types,
                                                       types),
        local_epoch, val_closure, seed_types=(src_type, dst_type),
        n_edge_types=len(edge_types), epochs=epochs, batch_size=batch_size,
        max_batches=max_batches, lr=lr, val_frac=val_frac, seed=seed,
        weight_decay=weight_decay, optimizer=optimizer,
        split_draw=split_draw, batch_draw=batch_draw,
        sample_draw=sample_draw)


def train_gat_stack_sampled(edges: DataFrame, feats: DataFrame,
                            examples: DataFrame, hidden: int,
                            layers: int = 2,
                            fanouts: list[int] | None = None,
                            batch_size: int = 512,
                            max_batches: int | None = None,
                            epochs: int = 5, lr: float = 0.05,
                            val_frac: float = 0.2, seed: int = 42,
                            weight_decay: float = 0.01,
                            edge_table: str | None = None,
                            optimizer: str = "adamw",
                            quantize: bool = False,
                            split_draw: str = "xxhash64",
                            batch_draw: str = "xxhash64",
                            sample_draw: str = "xxhash64") -> TrainResult:
    """Sampled mini-batch training of the FULL-DEPTH homogeneous GATv2
    stack — per-layer fanouts through k message-passing layers, the
    complete `[num_neighbors] * num_layers` LinkNeighborLoader shape
    (reference dataloader.py:24-51). Same regime and the same
    ``_sampled_fit`` driver as ``train_hetero_gat_sampled``: per-batch
    k-hop in-edge closure as ``sample_incoming`` (L2) draws it, many
    batches at once via ``sample_incoming_store_multi``, the
    ml/local_step.py::stack_epoch_local step (pinned against
    ``_stack_epoch`` by tests/test_local_step.py) over the restricted
    closure, one AdamW step per batch, full-neighborhood validation
    over the val set's once-computed k-hop dependency closure with the
    distributed ``_stack_epoch`` forward as the fallback. Per-batch
    shuffle volume is O(Π-bounded fanout tree × hidden), independent of
    |E|. Exactness anchor (tested): fanouts ≥ max in-degree at every
    hop + a single batch reproduces full-batch ``train_gat_stack``
    epochs — sampling drops exactly the edges outside the seeds' k-hop
    gradient support.

    ``edge_table`` (a dst-bucketed table from
    sources.bucketed.write_edge_table) picks only the sampler probe's
    source: identical sampled edges, the scan pruned to the frontier's
    buckets/row groups instead of filtering ``edges`` (|E|) per hop.
    The val closure always reads ``edges``.

    ``optimizer='sgd'`` + ``quantize=True`` + md5 ``split_draw`` /
    ``batch_draw`` / ``sample_draw`` is the cross-engine-replayable
    config (the train_gat_stack convention extended to the MINI-BATCH
    loop): DuckDB can then replay batch membership, the per-hop
    neighbor draws, every quantized forward, and the per-batch GD
    steps, putting the sampled training loop itself under the hash
    gate (q_gat_stack_train_sampled_q). md5 draws require non-null
    src/dst (the null-dropped edge frames guarantee it)."""
    from rel_db_to_graph_spark.ml.local_step import parse_stack_closure_rows

    fanouts = list(fanouts) if fanouts is not None else [15] * layers
    if len(fanouts) != layers:
        raise ValueError(f"fanouts {fanouts} must have one entry per "
                         f"layer ({layers})")

    def prep():
        nonlocal feats
        # every batch closure joins feats: materialize them once per run
        feats = feats.localCheckpoint(eager=True)
        return _stack_init(len(feats.select("emb").first()["emb"]), hidden,
                           layers, seed)

    def sample(frontiers, seeds):
        spark = examples.sparkSession
        src = edges if edge_table is None else spark.table(edge_table)
        return sample_incoming_store_multi(
            spark, src,
            {tag: fr.get("node", []) for tag, fr in frontiers.items()},
            fanouts, seeds, draw=sample_draw)

    def tagged_rows(sub, fcut, ex):
        """(kind, src, dst, node_id, emb): edges, features, examples."""
        arr_null = F.lit(None).cast("array<double>")
        long_null = F.lit(None).cast("bigint")
        return (sub.select(F.lit("e").alias("kind"), "src", "dst",
                           long_null.alias("node_id"), arr_null.alias("emb"))
                .unionByName(fcut.select(
                    F.lit("f").alias("kind"), long_null.alias("src"),
                    long_null.alias("dst"), "node_id", "emb"))
                .unionByName(ex.select(
                    F.lit("x").alias("kind"), "src", "dst",
                    F.col("label").cast("bigint").alias("node_id"),
                    arr_null.alias("emb"))))

    def endpoints(seeds, samp):
        return (seeds
                .unionAll(samp.select(F.col("src").alias("node_id")))
                .unionAll(samp.select(F.col("dst").alias("node_id")))
                ).distinct()

    def closure_frame(batch, samp):
        seeds = (batch.select(F.col("src").alias("node_id"))
                 .unionAll(batch.select(F.col("dst").alias("node_id")))
                 .distinct())
        # batch-bounded id set -> force the broadcast join (see
        # _closure_union's broadcast_ids note)
        return tagged_rows(
            samp.select("src", "dst").distinct(),
            feats.join(F.broadcast(endpoints(seeds, samp)), "node_id"),
            batch)

    def local_epoch(closure, params, b, with_grads):
        return stack_epoch_local(*closure, params, b, with_grads=with_grads,
                                 quantize=quantize)

    def val_closure(val):
        # k hops of FULL in-neighborhoods ([-1] per layer) of the val
        # endpoints: the edges and features the val forward reads
        vseeds = (val.select(F.col("src").alias("node_id"))
                  .unionAll(val.select(F.col("dst").alias("node_id")))
                  .distinct())
        vsamp = sample_incoming(edges, vseeds, [-1] * layers, seed=seed
                                ).localCheckpoint(eager=True)
        sub = (vsamp.select("src", "dst").distinct()
               .localCheckpoint(eager=True))
        fcut = (feats.join(endpoints(vseeds, vsamp), "node_id")
                .localCheckpoint(eager=True))
        return tagged_rows(sub, fcut, val), lambda params, b: _stack_epoch(
            sub, fcut, val, params, b, with_grads=False, quantize=quantize)

    return _sampled_fit(
        examples, prep, (_stack_flat, _stack_unflat), sample,
        closure_frame, parse_stack_closure_rows, local_epoch, val_closure,
        seed_types=("node", "node"), n_edge_types=1,
        epochs=epochs, batch_size=batch_size,
        max_batches=max_batches, lr=lr, val_frac=val_frac, seed=seed,
        weight_decay=weight_decay, optimizer=optimizer,
        split_draw=split_draw, batch_draw=batch_draw,
        sample_draw=sample_draw)
