"""L7-L11 — the training loop, Spark-native.

The reference trains with torch autograd + AdamW in a Lightning loop
(model.py:151-152, train.py:72-80). The Spark-idiomatic decomposition of
that loop: the *data-parallel* part of each step — forward, loss, and the
gradient REDUCTION over the batch — is a DataFrame aggregation; the
*parameter update* is driver-side arithmetic on a small vector (the
reference's hidden size is 10; a GNN layer's weights are KBs). One epoch
= one aggregation job; parameters travel to executors as literals (a
broadcast of KBs), gradients come back as one collected row per
dimension. This is exactly the "sampling and reduction are the big-data
parts" observation from SURVEY.md §3.2.

Model: logistic edge scorer p = sigmoid(w·phi + b) over per-edge feature
vectors (the L6 decoder with learnable weights). Loss: BCE (L7,
model.py:118). Metrics per epoch (L8). Best-epoch weight checkpointing
on val accuracy (L11, train.py:63-68). Full-batch gradient descent
with no per-row randomness: the split is content-addressed and every
parameter is seeded (the reference pins seeds everywhere,
setup.py:7-21). It is NOT bit-deterministic: the unquantized DataFrame
trainers' gradient and loss sums add partitions in shuffle-fetch order,
so their weights can differ in the last ulp between runs. The
hash-gated configurations are the quantized, integer-derived ones —
plain GD, integer-derived accuracy histories and, for the GNN
trainers, 6-dp quantized forwards (``link_pred_train``,
``gat_stack_train_q``, the ``*_sampled_q`` trainers) — which that
last-ulp drift cannot reach.

``fit`` is the one fit loop every trainer runs on (this module's two
and the five GNN trainers in ml/gat_train.py): hash split, optimizer,
then per epoch the model's train hook, val stats, a history row and
the best-val checkpoint — the reference's single Lightning loop
(train.py:63-80). A trainer supplies only its epoch math.
"""

from __future__ import annotations

from contextlib import ExitStack
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rel_db_to_graph_spark.functions.vector import dot, sigmoid
from rel_db_to_graph_spark.operators.split import check_draw, hash_split


@dataclass
class TrainResult:
    weights: list[float]
    bias: float
    history: list[dict] = field(default_factory=list)
    best_epoch: int = -1
    best_val_acc: float = 0.0


class AdamW:
    """L9 — the reference's optimizer (model.py:151-152, torch.optim.AdamW
    semantics: DECOUPLED weight decay applied to the parameter before the
    moment step, then bias-corrected first/second moments). Driver-side
    arithmetic over the small parameter vector; the data-parallel part of
    each step stays the gradient-reduction aggregation."""

    def __init__(self, lr: float, betas: tuple[float, float] = (0.9, 0.999),
                 eps: float = 1e-8, weight_decay: float = 0.01):
        self.lr, self.betas = lr, betas
        self.eps, self.weight_decay = eps, weight_decay
        self.m: list[float] = []
        self.v: list[float] = []
        self.t = 0

    def step(self, params: list[float], grads: list[float]) -> list[float]:
        if not self.m:
            self.m = [0.0] * len(params)
            self.v = [0.0] * len(params)
        b1, b2 = self.betas
        self.t += 1
        out = []
        for i, (p, g) in enumerate(zip(params, grads)):
            p = p - self.lr * self.weight_decay * p
            self.m[i] = b1 * self.m[i] + (1 - b1) * g
            self.v[i] = b2 * self.v[i] + (1 - b2) * g * g
            mhat = self.m[i] / (1 - b1 ** self.t)
            vhat = self.v[i] / (1 - b2 ** self.t)
            out.append(p - self.lr * mhat / (vhat ** 0.5 + self.eps))
        return out


def _make_stepper(optimizer: str, lr: float, weight_decay: float):
    """(params, grads) -> new params. 'sgd' is plain full-batch GD (no
    decay, the round-1 behavior); 'adamw' matches the reference."""
    if optimizer == "sgd":
        return lambda ps, gs: [p - lr * g for p, g in zip(ps, gs)]
    if optimizer == "adamw":
        opt = AdamW(lr=lr, weight_decay=weight_decay)
        return opt.step
    raise ValueError(f"unknown optimizer {optimizer!r}")


def _flat(arrays, bias: float) -> list[float]:
    """The flat parameter vector the steppers update: every array
    raveled row-major in the given order, then the bias."""
    return [float(x) for arr in arrays for x in np.ravel(arr)] + [float(bias)]


def _unflat(v: list[float], shapes) -> tuple[list[np.ndarray], float]:
    """Inverse of ``_flat`` for arrays of the given shapes."""
    out, i = [], 0
    for shape in shapes:
        k = int(np.prod(shape))
        out.append(np.array(v[i:i + k]).reshape(shape))
        i += k
    return out, float(v[i])


def _cached_split(examples: DataFrame, val_frac: float, seed: int,
                  draw: str):
    """(train, val, n_train, n_val): the hash split into cached frames,
    both sizes counted in ONE job that reads THROUGH the caches, so it
    also fills them before any later reader (a sampled trainer's
    background prefetch and its val-closure build) races to."""
    split = hash_split(examples, val_frac=val_frac, test_frac=0.0,
                       seed=seed, draw=draw)
    train = split.filter(F.col("split") == "train").drop("split").cache()
    val = split.filter(F.col("split") == "val").drop("split").cache()
    cnt = {r["_s"]: r["n"] for r in
           (train.select(F.lit("train").alias("_s"))
            .unionByName(val.select(F.lit("val").alias("_s")))
            .groupBy("_s").agg(F.count("*").alias("n"))).collect()}
    return train, val, int(cnt.get("train", 0)), int(cnt.get("val", 0))


def fit(examples: DataFrame, prepare, start, epochs: int, optimizer: str,
        lr: float, weight_decay: float, val_frac: float, seed: int,
        split_draw: str = "xxhash64") -> TrainResult:
    """The fit loop (L9-L11, train.py:63-80). The optimizer name and the
    split draw are checked before any Spark job. ``prepare()`` then runs
    the model's one-time setup (feature checkpoints, input widths,
    seeded parameters) BEFORE the split, and its result is handed to
    ``start(state, train, val, n_train, n_val, scope)`` after the hash
    split into cached train/val frames. The order is kept: a
    cache-filling job moved across the split changes later shuffle
    layouts and so the last bits of the float sums. ``start`` returns
    ``(theta, train_epoch, val_stats)``: the initial flat parameter
    vector (bias last), ``train_epoch(epoch, theta, step) -> (theta,
    row)`` stepping with the sgd/adamw stepper, and ``val_stats(theta)
    -> {loss, acc, ...}``. Each epoch appends ``{epoch, **row,
    val_loss, val_acc}`` to the history and keeps the best-val-accuracy
    parameters (``>=``, so ties go to the later epoch —
    monitor=val_accuracy, mode=max, save_top_k=1). ``scope`` is an
    ExitStack closed when the loop ends, for a trainer's run-scoped
    resources. ``theta`` is never mutated in place."""
    step = _make_stepper(optimizer, lr, weight_decay)
    check_draw(split_draw)
    state = prepare()
    train, val, n_train, n_val = _cached_split(examples, val_frac, seed,
                                               split_draw)
    result = TrainResult(weights=[], bias=0.0)
    with ExitStack() as scope:
        theta, train_epoch, val_stats = start(state, train, val, n_train,
                                              n_val, scope)
        best = theta
        for epoch in range(epochs):
            theta, row = train_epoch(epoch, theta, step)
            vstats = val_stats(theta)
            result.history.append({"epoch": epoch, **row,
                                   "val_loss": vstats["loss"],
                                   "val_acc": vstats["acc"]})
            if vstats["acc"] >= result.best_val_acc:
                result.best_val_acc = vstats["acc"]
                result.best_epoch = epoch
                best = theta
    result.weights, result.bias = best[:-1], best[-1]
    train.unpersist(), val.unpersist()
    return result


def _full_batch(theta: list[float], stats, grads, train: DataFrame,
                val: DataFrame):
    """``fit`` hooks for one full-batch step per epoch: ``stats(frame,
    theta, with_grads)`` is the model's epoch pass and ``grads(stats)``
    its flat gradient, in ``theta``'s order."""
    def train_epoch(epoch, theta, step):
        s = stats(train, theta, True)
        return (step(theta, grads(s)),
                {"train_loss": s["loss"], "train_acc": s["acc"]})
    return theta, train_epoch, lambda theta: stats(val, theta, False)


def _epoch_stats(df: DataFrame, w: list[float], b: float) -> dict:
    """One pass: per-dimension gradient sums + loss + confusion counts."""
    wlit = F.array(*[F.lit(float(x)) for x in w])
    z = dot(F.col("features"), wlit) + F.lit(float(b))
    p = sigmoid(F.greatest(F.least(z, F.lit(30.0)), F.lit(-30.0)))
    y = F.col("label").cast("double")
    err = (p - y).alias("err")
    loss = -(y * F.log(p) + (1 - y) * F.log(1 - p))

    scored = df.select(
        F.col("features"), y.alias("y"), err, loss.alias("loss"),
        (p > 0.5).cast("int").alias("yhat"))
    agg = (
        scored.select(
            "y", "err", "loss", "yhat",
            F.posexplode("features").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(F.col("err") * F.col("x")).alias("gw"),
             F.sum("err").alias("gb"),
             F.sum("loss").alias("loss_sum"),
             F.count("*").alias("n"),
             F.sum((F.col("yhat") == F.col("y").cast("int")).cast("long"))
             .alias("correct"))
        .collect()
    )
    if not agg:
        # empty frame (empty val split / empty content-addressed batch):
        # zero gradients, no metric signal — callers skip the step
        return {"gw": [0.0] * len(w), "gb": 0.0, "loss": 0.0,
                "acc": 0.0, "n": 0}
    by_pos = {r.pos: r for r in agg}
    n = by_pos[0].n
    return {
        "gw": [by_pos[i].gw / n for i in range(len(w))],
        "gb": by_pos[0].gb / n,
        "loss": by_pos[0].loss_sum / n,
        "acc": by_pos[0].correct / n,
        "n": n,
    }


def train_edge_scorer(examples: DataFrame, dim: int, epochs: int = 20,
                      lr: float = 0.5, val_frac: float = 0.2,
                      seed: int = 42, n_batches: int = 1,
                      optimizer: str = "sgd",
                      weight_decay: float = 0.01,
                      split_draw: str = "xxhash64") -> TrainResult:
    """Logistic training over (features array<double>, label int, src,
    dst) edge examples. Returns learned weights + the per-epoch metric
    history, with best-val-accuracy checkpointing.

    ``n_batches`` > 1 = mini-batch SGD (L4, the reference's batch_size
    512 + shuffle=True, dataloader.py:24-36): batch membership is
    content-addressed — hash(src, dst, epoch) mod n_batches — so the
    per-epoch "shuffle" is deterministic yet differs across epochs, and
    each batch is a FILTER over the cached frame (no repartition per
    batch). One gradient job per batch per epoch. The loop is ``fit``.
    """
    def stats(frame, theta, with_grads=True):
        return _epoch_stats(frame, theta[:-1], theta[-1])

    def grads(s):
        return s["gw"] + [s["gb"]]

    def start(state, train, val, *_):
        hooks = _full_batch([0.0] * (dim + 1), stats, grads, train, val)
        if n_batches <= 1:
            return hooks

        def train_epoch(epoch, theta, step):
            for bi in range(n_batches):
                batch = train.filter(
                    F.pmod(F.xxhash64("src", "dst", F.lit(seed + epoch)),
                           F.lit(n_batches)) == bi)
                bstats = stats(batch, theta)
                if bstats["n"]:
                    theta = step(theta, grads(bstats))
            s = stats(train, theta)
            return theta, {"train_loss": s["loss"], "train_acc": s["acc"]}
        return hooks[0], train_epoch, hooks[2]

    return fit(examples, lambda: None, start, epochs, optimizer, lr,
               weight_decay, val_frac, seed, split_draw)


def _proj_epoch_stats(df: DataFrame, Ws: list[list[float]],
                      Wd: list[list[float]], b: float) -> dict:
    """One pass for the per-endpoint-type projection+decoder model
    z = (Ws e_src)·(Wd e_dst) + b (u = Ws e_src, v = Wd e_dst):
    per-(a,b) gradient sums dz/dWs[a][b] = v[a]·e_src[b] and
    dz/dWd[a][b] = u[a]·e_dst[b], plus loss/confusion counts. h² rows
    per edge through two posexplodes — h is single digits, so the
    fan-out is bounded; the shuffle carries only (a, b, partial sums)
    thanks to partial aggregation."""
    h = len(Ws)
    ws_rows = [F.array(*[F.lit(float(x)) for x in row]) for row in Ws]
    wd_rows = [F.array(*[F.lit(float(x)) for x in row]) for row in Wd]
    u = F.array(*[dot(F.col("e_src"), r) for r in ws_rows])
    v = F.array(*[dot(F.col("e_dst"), r) for r in wd_rows])
    z = dot(u, v) + F.lit(float(b))
    p = sigmoid(F.greatest(F.least(z, F.lit(30.0)), F.lit(-30.0)))
    y = F.col("label").cast("double")
    err = (p - y)
    loss = -(y * F.log(p) + (1 - y) * F.log(1 - p))

    scored = df.select(
        F.col("e_src").alias("_es"), F.col("e_dst").alias("_ed"),
        u.alias("_u"), v.alias("_v"), y.alias("y"), err.alias("err"),
        loss.alias("loss"), (p > 0.5).cast("int").alias("yhat"))
    agg = (
        scored
        .select("*", F.posexplode(F.arrays_zip("_u", "_v")).alias("a", "_uv"))
        .select("y", "err", "loss", "yhat", "a", "_uv",
                F.posexplode(F.arrays_zip("_es", "_ed")).alias("bb", "_e"))
        .groupBy("a", "bb")
        .agg(F.sum(F.col("err") * F.col("_uv._v") * F.col("_e._es"))
             .alias("gws"),
             F.sum(F.col("err") * F.col("_uv._u") * F.col("_e._ed"))
             .alias("gwd"),
             F.sum("err").alias("gb"),
             F.sum("loss").alias("loss_sum"),
             F.count("*").alias("n"),
             F.sum((F.col("yhat") == F.col("y").cast("int")).cast("long"))
             .alias("correct"))
        .collect()
    )
    if not agg:
        zero = [[0.0] * h for _ in range(h)]
        return {"gWs": zero, "gWd": [row[:] for row in zero], "gb": 0.0,
                "loss": 0.0, "acc": 0.0, "n": 0}
    cells = {(r.a, r.bb): r for r in agg}
    n = cells[(0, 0)].n
    return {
        "gWs": [[cells[(a, bb)].gws / n for bb in range(h)] for a in range(h)],
        "gWd": [[cells[(a, bb)].gwd / n for bb in range(h)] for a in range(h)],
        "gb": cells[(0, 0)].gb / n,
        "loss": cells[(0, 0)].loss_sum / n,
        "acc": cells[(0, 0)].correct / n,
        "n": n,
    }


def train_link_projection(examples: DataFrame, hidden: int,
                          epochs: int = 10, lr: float = 0.05,
                          val_frac: float = 0.2, seed: int = 42,
                          weight_decay: float = 0.01) -> TrainResult:
    """L5/L6/L9 joint: learn PER-ENDPOINT-TYPE projections Ws, Wd
    (hidden×hidden each) and the decoder bias end-to-end over frozen GNN
    embeddings — score(edge) = (Ws e_src)·(Wd e_dst) + b, BCE loss,
    AdamW updates (model.py:151-152). Separate src/dst weights mirror
    to_hetero's per-type parameterization AND make the bilinear form
    Ws^T Wd arbitrary — a single shared W would force the PSD form
    W^T W, which cannot even represent anti-correlated rules. Training
    the projections jointly with the decoder is real backprop through
    the model's final layer, expressed as the same aggregation-then-
    driver-update shape as the logistic scorer (SURVEY.md §3.2).

    ``examples``: (src, dst, e_src array<double>, e_dst array<double>,
    label int). Identity-initialized projections so epoch 0 scores are
    the raw dot-product decoder. Best-val-accuracy checkpointing (L11)
    by ``fit``. ``TrainResult.weights`` is [Ws flattened, Wd flattened].
    """
    shapes = [(hidden, hidden)] * 2

    def stats(frame, theta, with_grads=True):
        (Ws, Wd), b = _unflat(theta, shapes)
        return _proj_epoch_stats(frame, Ws, Wd, b)

    def start(state, train, val, *_):
        eye = np.eye(hidden)
        return _full_batch(_flat([eye, eye], 0.0), stats,
                          lambda s: _flat([s["gWs"], s["gWd"]], s["gb"]),
                          train, val)

    return fit(examples, lambda: None, start, epochs, "adamw", lr,
               weight_decay, val_frac, seed)


def edge_examples(edges_labeled: DataFrame, node_features: DataFrame,
                  feat_cols: list[str]) -> DataFrame:
    """Join (src, dst, label) edges to per-node features and build the
    per-edge feature vector [src_feats..., dst_feats..., src·dst]."""
    sf = node_features.select(
        F.col("node_id").alias("src"),
        *[F.col(c).alias(f"_s_{c}") for c in feat_cols])
    df_ = node_features.select(
        F.col("node_id").alias("dst"),
        *[F.col(c).alias(f"_d_{c}") for c in feat_cols])
    joined = edges_labeled.join(sf, "src").join(df_, "dst")
    s_arr = F.array(*[F.col(f"_s_{c}").cast("double") for c in feat_cols])
    d_arr = F.array(*[F.col(f"_d_{c}").cast("double") for c in feat_cols])
    return joined.select(
        "src", "dst", "label",
        F.concat(s_arr, d_arr, F.array(dot(s_arr, d_arr))).alias("features"))
