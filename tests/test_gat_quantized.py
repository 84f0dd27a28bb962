"""The quantized bipartite pre-activation GATv2 layer — the path under
the hash-checked hetero forward and GNN recommender — must equal a
plain-Python twin EXACTLY, not within a tolerance."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from rel_db_to_graph_spark.ml.gat import gat_layer

EDGES = [(0, 10), (1, 10), (2, 10), (1, 11), (2, 11), (0, 12)]
XS = {0: [1.0, 0.2], 1: [0.3, -0.5], 2: [-0.7, 0.9]}
# node 13 has no in-edges: it must come back as the zero vector
XD = {10: [0.5, 0.5, -1.0], 11: [1.0, 0.0, 0.3], 12: [-0.2, 0.8, 0.1],
      13: [0.4, -0.6, 0.2]}


def _dec6(x: float) -> Decimal:
    """Spark's round(x, 6) on a double: BigDecimal of the shortest
    decimal string, HALF_UP."""
    return Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)


def _fold_dot(xs, ws) -> float:
    """functions/vector.py::dot — a left fold from 0.0."""
    acc = 0.0
    for x, w in zip(xs, ws):
        acc = acc + x * w
    return acc


def _twin(Wl, Wr, a) -> dict:
    s = {i: [_fold_dot(x, row) for row in Wl.tolist()] for i, x in XS.items()}
    t = {j: [_fold_dot(x, row) for row in Wr.tolist()] for j, x in XD.items()}
    e = {}
    for i, j in EDGES:
        r = [q if q > 0 else q * 0.2
             for q in (si + tj for si, tj in zip(s[i], t[j]))]
        e[(i, j)] = _fold_dot(r, a.tolist())
    out = {}
    for j in XD:
        inc = [ij for ij in EDGES if ij[1] == j]
        if not inc:
            out[j] = [0.0] * Wl.shape[0]
            continue
        mx = max(e[ij] for ij in inc)
        w = {ij: float(_dec6(math.exp(e[ij] - mx))) for ij in inc}
        z = float(sum(_dec6(w[ij]) for ij in inc))
        alpha = {ij: w[ij] / z for ij in inc}
        out[j] = [float(sum(_dec6(alpha[ij] * s[ij[0]][k]) for ij in inc))
                  for k in range(Wl.shape[0])]
    return out


def test_quantized_preactivation_layer_matches_exact_twin(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    sf = spark.createDataFrame(list(XS.items()),
                               "node_id long, emb array<double>")
    df = spark.createDataFrame(list(XD.items()),
                               "node_id long, emb array<double>")
    rng = np.random.default_rng(21)
    Wl = rng.normal(0, 0.5, (3, 2))
    Wr = rng.normal(0, 0.5, (3, 3))
    a = rng.normal(0, 0.5, 3)

    got = {r.node_id: list(r.emb) for r in gat_layer(
        edges, sf, Wl, Wr, a, activation=None, dst_feats=df,
        quantize=True).collect()}
    assert got == _twin(Wl, Wr, a)
