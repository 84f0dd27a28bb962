"""End-to-end trained GATv2 layer: the Spark gradient reductions must
match a from-scratch numpy forward/backward twin on a toy graph, and
training must decrease BCE while moving the attention parameters."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from rel_db_to_graph_spark.ml.gat_train import _gat_epoch, train_gat_link

EDGES = [(0, 10), (1, 10), (1, 11), (2, 11), (0, 12)]
XS = {0: [1.0, 0.2], 1: [0.3, -0.5], 2: [-0.7, 0.9]}
XD = {10: [0.5, 0.5, -1.0], 11: [1.0, 0.0, 0.3], 12: [-0.2, 0.8, 0.1]}
EXAMPLES = [(0, 10, 1), (1, 10, 0), (1, 11, 1), (2, 11, 0), (0, 12, 1),
            (2, 12, 0)]


def _frames(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    sf = spark.createDataFrame(list(XS.items()),
                               "node_id long, emb array<double>")
    df = spark.createDataFrame(list(XD.items()),
                               "node_id long, emb array<double>")
    ex = spark.createDataFrame(EXAMPLES, "src long, dst long, label int")
    return edges, sf, df, ex


def _sig(x):
    return 1.0 / (1.0 + np.exp(-x))


def _numpy_epoch(Wl, Wr, a, b):
    """Independent full forward/backward: finite-difference-checkable
    ground truth for the Spark reductions."""
    leaky = lambda x: np.where(x > 0, x, 0.2 * x)
    dleaky = lambda x: np.where(x > 0, 1.0, 0.2)
    s = {i: Wl @ np.array(v) for i, v in XS.items()}
    t = {j: Wr @ np.array(v) for j, v in XD.items()}
    q = {(i, j): s[i] + t[j] for i, j in EDGES}
    e = {ij: float(a @ leaky(q[ij])) for ij in EDGES}
    alpha, m, hh = {}, {}, {}
    for j in XD:
        inc = [ij for ij in EDGES if ij[1] == j]
        mx = max(e[ij] for ij in inc)
        ws = {ij: np.exp(e[ij] - mx) for ij in inc}
        zz = sum(ws.values())
        for ij in inc:
            alpha[ij] = ws[ij] / zz
        m[j] = sum(alpha[ij] * s[ij[0]] for ij in inc)
        hh[j] = _sig(m[j])

    n = len(EXAMPLES)
    err, loss = {}, 0.0
    acc = 0
    for (u, v, y) in EXAMPLES:
        z = float(s[u] @ hh[v]) + b
        p = _sig(np.clip(z, -30, 30))
        err[(u, v)] = p - y
        loss += -(y * np.log(p) + (1 - y) * np.log(1 - p))
        acc += int((p > 0.5) == bool(y))

    gb = sum(err.values()) / n
    gh = {j: np.zeros_like(hh[j]) for j in XD}
    ds = {i: np.zeros_like(s[i]) for i in XS}
    for (u, v, _y) in EXAMPLES:
        gh[v] += err[(u, v)] * s[u]
        ds[u] += err[(u, v)] * hh[v]
    gm = {j: gh[j] * hh[j] * (1 - hh[j]) for j in XD}
    c = {j: float(gm[j] @ m[j]) for j in XD}

    ga = np.zeros_like(a)
    dt = {j: np.zeros_like(t[j]) for j in XD}
    for (i, j) in EDGES:
        ge = alpha[(i, j)] * (float(gm[j] @ s[i]) - c[j])
        dq = ge * a * dleaky(q[(i, j)])
        ga += ge * leaky(q[(i, j)])
        ds[i] += alpha[(i, j)] * gm[j] + dq
        dt[j] += dq
    gWl = sum(np.outer(ds[i], np.array(XS[i])) for i in XS) / n
    gWr = sum(np.outer(dt[j], np.array(XD[j])) for j in XD) / n
    return {"loss": loss / n, "acc": acc / n, "gb": gb, "ga": ga / n,
            "gWl": gWl, "gWr": gWr}


def test_gat_gradients_match_numpy(spark):
    edges, sf, df, ex = _frames(spark)
    rng = np.random.default_rng(7)
    Wl = rng.normal(0, 0.5, (2, 2))
    Wr = rng.normal(0, 0.5, (2, 3))
    a = rng.normal(0, 0.5, 2)
    b = 0.1

    got = _gat_epoch(edges, sf, df, ex, Wl, Wr, a, b)
    want = _numpy_epoch(Wl, Wr, a, b)
    assert np.isclose(got["loss"], want["loss"], rtol=1e-10)
    assert got["acc"] == want["acc"]
    assert np.isclose(got["gb"], want["gb"], rtol=1e-10)
    assert np.allclose(got["ga"], want["ga"], rtol=1e-8), \
        (got["ga"], want["ga"])
    assert np.allclose(got["gWl"], want["gWl"], rtol=1e-8)
    assert np.allclose(got["gWr"], want["gWr"], rtol=1e-8)


def test_numpy_twin_agrees_with_finite_differences():
    """The twin itself is verified against central finite differences,
    so the Spark assertions above inherit ground truth transitively."""
    rng = np.random.default_rng(11)
    Wl = rng.normal(0, 0.5, (2, 2))
    Wr = rng.normal(0, 0.5, (2, 3))
    a = rng.normal(0, 0.5, 2)
    b = -0.2
    base = _numpy_epoch(Wl, Wr, a, b)
    eps = 1e-6

    def loss_at(Wl, Wr, a, b):
        return _numpy_epoch(Wl, Wr, a, b)["loss"]

    num_gb = (loss_at(Wl, Wr, a, b + eps)
              - loss_at(Wl, Wr, a, b - eps)) / (2 * eps)
    assert np.isclose(base["gb"], num_gb, rtol=1e-5)
    for k in range(2):
        ap, am = a.copy(), a.copy()
        ap[k] += eps
        am[k] -= eps
        num = (loss_at(Wl, Wr, ap, b) - loss_at(Wl, Wr, am, b)) / (2 * eps)
        assert np.isclose(base["ga"][k], num, rtol=1e-4, atol=1e-9), k
    for r in range(2):
        for c in range(2):
            Wp, Wm = Wl.copy(), Wl.copy()
            Wp[r, c] += eps
            Wm[r, c] -= eps
            num = (loss_at(Wp, Wr, a, b)
                   - loss_at(Wm, Wr, a, b)) / (2 * eps)
            assert np.isclose(base["gWl"][r, c], num, rtol=1e-4,
                              atol=1e-9), (r, c)
    for r in range(2):
        for c in range(3):
            Wp, Wm = Wr.copy(), Wr.copy()
            Wp[r, c] += eps
            Wm[r, c] -= eps
            num = (loss_at(Wl, Wp, a, b)
                   - loss_at(Wl, Wm, a, b)) / (2 * eps)
            assert np.isclose(base["gWr"][r, c], num, rtol=1e-4,
                              atol=1e-9), (r, c)


def test_train_gat_link_learns(spark):
    """BCE decreases and the ATTENTION parameters move — the 'deep
    weights are learned, not seeded' criterion from the round-3
    verdict. val_frac=0 would starve the toy val split, so use a
    bigger deterministic example set."""
    rng = np.random.default_rng(0)
    n_src, n_dst = 12, 8
    xs = [(i, [float(rng.normal()), float(rng.normal())])
          for i in range(n_src)]
    xd = [(100 + j, [float(rng.normal()), float(rng.normal()),
                     float(rng.normal())]) for j in range(n_dst)]
    edges = [(i, 100 + (i % n_dst)) for i in range(n_src)]
    # learnable signal: label = same parity of src and dst index
    examples = [(i, 100 + j, int((i + j) % 2 == 0))
                for i in range(n_src) for j in range(n_dst)]

    e_df = spark.createDataFrame(edges, "src long, dst long")
    sf = spark.createDataFrame(xs, "node_id long, emb array<double>")
    df_ = spark.createDataFrame(xd, "node_id long, emb array<double>")
    ex = spark.createDataFrame(examples, "src long, dst long, label int")

    res = train_gat_link(e_df, sf, df_, ex, hidden=2, epochs=4, lr=0.1,
                         seed=3)
    losses = [h["train_loss"] for h in res.history]
    assert losses[-1] < losses[0], losses

    # attention params (tail of the weight vector) moved from their init
    rng2 = np.random.default_rng(3)
    Wl0 = rng2.normal(0, 0.5, size=(2, 2))
    Wr0 = rng2.normal(0, 0.5, size=(2, 3))
    a0 = rng2.normal(0, 0.5, size=2)
    init_flat = (list(Wl0.ravel()) + list(Wr0.ravel()) + list(a0))
    final = np.array(res.weights)
    assert not np.allclose(final, np.array(init_flat), atol=1e-6)
    # determinism: content-addressed split + full-batch grads
    again = train_gat_link(e_df, sf, df_, ex, hidden=2, epochs=4, lr=0.1,
                           seed=3)
    assert np.allclose(final, np.array(again.weights), rtol=1e-12)


# ---------------- multi-layer stack (full-depth backprop) ----------------

S_EDGES = [(0, 1), (1, 2), (2, 0), (3, 2), (0, 3), (2, 3)]
S_X = {0: [1.0, 0.2], 1: [0.3, -0.5], 2: [-0.7, 0.9], 3: [0.4, 0.4]}
S_EX = [(0, 1, 1), (1, 2, 0), (2, 3, 1), (3, 0, 0), (0, 2, 1), (1, 3, 0)]


def _np_stack_epoch(params, b):
    """Numpy twin of _stack_epoch: k-layer forward + full backward."""
    leaky = lambda x: np.where(x > 0, x, 0.2 * x)
    dleaky = lambda x: np.where(x > 0, 1.0, 0.2)
    nodes = sorted(S_X)
    embs = [{i: np.array(v) for i, v in S_X.items()}]
    fwd = []
    for (Wl, Wr, a) in params:
        x = embs[-1]
        s = {i: Wl @ x[i] for i in nodes}
        t = {j: Wr @ x[j] for j in nodes}
        q = {(i, j): s[i] + t[j] for i, j in S_EDGES}
        e = {ij: float(a @ leaky(q[ij])) for ij in S_EDGES}
        alpha, m, hh = {}, {}, {}
        for j in nodes:
            inc = [ij for ij in S_EDGES if ij[1] == j]
            if not inc:
                m[j] = np.zeros(Wl.shape[0])
                hh[j] = np.zeros(Wl.shape[0])
                continue
            mx = max(e[ij] for ij in inc)
            ws = {ij: np.exp(e[ij] - mx) for ij in inc}
            zz = sum(ws.values())
            for ij in inc:
                alpha[ij] = ws[ij] / zz
            m[j] = sum(alpha[ij] * s[ij[0]] for ij in inc)
            hh[j] = _sig(m[j])
        fwd.append((s, t, q, alpha, m, hh))
        embs.append(hh)

    top = embs[-1]
    n = len(S_EX)
    err, loss, acc = {}, 0.0, 0
    for (u, v, y) in S_EX:
        z = float(top[u] @ top[v]) + b
        p = _sig(np.clip(z, -30, 30))
        err[(u, v)] = p - y
        loss += -(y * np.log(p) + (1 - y) * np.log(1 - p))
        acc += int((p > 0.5) == bool(y))
    gb = sum(err.values()) / n

    G = {i: np.zeros_like(top[i]) for i in nodes}
    for (u, v, _y) in S_EX:
        G[u] += err[(u, v)] * top[v]
        G[v] += err[(u, v)] * top[u]

    grads = [None] * len(params)
    for li in range(len(params) - 1, -1, -1):
        Wl, Wr, a = params[li]
        s, t, q, alpha, m, hh = fwd[li]
        gm = {j: G[j] * hh[j] * (1 - hh[j]) for j in nodes}
        c = {j: float(gm[j] @ m[j]) for j in nodes}
        ga = np.zeros_like(a)
        DS = {i: np.zeros_like(s[i]) for i in nodes}
        DT = {j: np.zeros_like(t[j]) for j in nodes}
        for (i, j) in S_EDGES:
            ge = alpha[(i, j)] * (float(gm[j] @ s[i]) - c[j])
            dq = ge * a * dleaky(q[(i, j)])
            ga += ge * leaky(q[(i, j)])
            DS[i] += alpha[(i, j)] * gm[j] + dq
            DT[j] += dq
        x = embs[li]
        gWl = sum(np.outer(DS[i], x[i]) for i in nodes) / n
        gWr = sum(np.outer(DT[j], x[j]) for j in nodes) / n
        grads[li] = (gWl, gWr, ga / n)
        if li > 0:
            G = {i: Wl.T @ DS[i] + Wr.T @ DT[i] for i in nodes}
    return {"loss": loss / n, "acc": acc / n, "gb": gb, "grads": grads}


def _stack_params(seed=13):
    rng = np.random.default_rng(seed)
    return [(rng.normal(0, 0.5, (2, 2)), rng.normal(0, 0.5, (2, 2)),
             rng.normal(0, 0.5, 2)) for _ in range(2)]


def test_stack_gradients_match_numpy(spark):
    from rel_db_to_graph_spark.ml.gat_train import _stack_epoch

    edges = spark.createDataFrame(S_EDGES, "src long, dst long")
    feats = spark.createDataFrame(list(S_X.items()),
                                  "node_id long, emb array<double>")
    ex = spark.createDataFrame(S_EX, "src long, dst long, label int")
    params = _stack_params()
    b = 0.05

    got = _stack_epoch(edges, feats, ex, params, b)
    want = _np_stack_epoch(params, b)
    assert np.isclose(got["loss"], want["loss"], rtol=1e-10)
    assert np.isclose(got["gb"], want["gb"], rtol=1e-10)
    for li in range(2):
        gWl, gWr, ga = got["grads"][li]
        wWl, wWr, wa = want["grads"][li]
        assert np.allclose(gWl, wWl, rtol=1e-7, atol=1e-12), ("Wl", li)
        assert np.allclose(gWr, wWr, rtol=1e-7, atol=1e-12), ("Wr", li)
        assert np.allclose(ga, wa, rtol=1e-7, atol=1e-12), ("a", li)


def test_stack_numpy_twin_matches_finite_differences():
    params = _stack_params(seed=21)
    b = -0.1
    base = _np_stack_epoch(params, b)
    eps = 1e-6

    def loss_at(ps, bb):
        return _np_stack_epoch(ps, bb)["loss"]

    for li in range(2):
        for which in range(3):   # Wl, Wr, a
            arr = params[li][which]
            it = np.ndindex(*arr.shape)
            for idx in it:
                pp = [(Wl.copy(), Wr.copy(), a.copy())
                      for (Wl, Wr, a) in params]
                pm = [(Wl.copy(), Wr.copy(), a.copy())
                      for (Wl, Wr, a) in params]
                pp[li][which][idx] += eps
                pm[li][which][idx] -= eps
                num = (loss_at(pp, b) - loss_at(pm, b)) / (2 * eps)
                got = base["grads"][li][which][idx]
                assert np.isclose(got, num, rtol=1e-4, atol=1e-8), \
                    (li, which, idx, got, num)


def test_train_gat_stack_learns(spark):
    from rel_db_to_graph_spark.ml.gat_train import train_gat_stack

    rng = np.random.default_rng(1)
    n = 14
    xs = [(i, [float(rng.normal()), float(rng.normal())]) for i in range(n)]
    edges = [(i, (i + 1) % n) for i in range(n)] + \
            [(i, (i + 3) % n) for i in range(n)]
    examples = [(i, j, int((i + j) % 2 == 0))
                for i in range(n) for j in range(n) if i != j]
    e_df = spark.createDataFrame(edges, "src long, dst long")
    f_df = spark.createDataFrame(xs, "node_id long, emb array<double>")
    ex = spark.createDataFrame(examples, "src long, dst long, label int")

    res = train_gat_stack(e_df, f_df, ex, hidden=2, layers=2, epochs=3,
                          lr=0.1, seed=3)
    losses = [h["train_loss"] for h in res.history]
    assert losses[-1] < losses[0], losses
    assert len(res.weights) == 2 * (2 * 2 * 2 + 2)   # 2 layers x (2 W + a)


# ------------- full hetero model (every parameter trained) -------------

H_TYPES = {"A": {0: [1.0, 0.2], 1: [0.3, -0.5], 2: [-0.7, 0.9]},
           "B": {10: [0.5, -1.0, 0.1], 11: [1.0, 0.3, -0.2]}}
H_EDGES = {("A", "r", "B"): [(0, 10), (1, 10), (2, 11), (0, 11)],
           ("B", "s", "A"): [(10, 0), (11, 1), (10, 2)]}
H_EX = [(0, 10, 1), (1, 10, 0), (2, 11, 1), (0, 11, 0), (1, 11, 1)]


def _np_hetero_epoch(params, b):
    leaky = lambda x: np.where(x > 0, x, 0.2 * x)
    dleaky = lambda x: np.where(x > 0, 1.0, 0.2)
    types = sorted(H_TYPES)
    ets = sorted(H_EDGES)
    hid = next(iter(params["Wself"].values())).shape[0]

    x = {t: {i: np.array(v) for i, v in H_TYPES[t].items()} for t in types}
    h0 = {t: {i: _sig(params["W0"][t] @ v) for i, v in x[t].items()}
          for t in types}

    msg, fwd = {t: {i: np.zeros(hid) for i in h0[t]} for t in types}, {}
    for et in ets:
        s_t, _r, d_t = et
        Wl, Wr, a = params["attn"][et]
        s = {i: Wl @ h0[s_t][i] for i in h0[s_t]}
        tt = {j: Wr @ h0[d_t][j] for j in h0[d_t]}
        q = {(i, j): s[i] + tt[j] for i, j in H_EDGES[et]}
        e = {ij: float(a @ leaky(q[ij])) for ij in H_EDGES[et]}
        alpha, m = {}, {}
        for j in h0[d_t]:
            inc = [ij for ij in H_EDGES[et] if ij[1] == j]
            if not inc:
                m[j] = np.zeros(hid)
                continue
            mx = max(e[ij] for ij in inc)
            ws = {ij: np.exp(e[ij] - mx) for ij in inc}
            zz = sum(ws.values())
            for ij in inc:
                alpha[ij] = ws[ij] / zz
            m[j] = sum(alpha[ij] * s[ij[0]] for ij in inc)
        fwd[et] = (s, tt, q, alpha, m)
        for j in h0[d_t]:
            msg[d_t][j] += m[j]

    pre = {t: {i: params["Wself"][t] @ h0[t][i] + msg[t][i]
               for i in h0[t]} for t in types}
    h1 = {t: {i: _sig(pre[t][i]) for i in pre[t]} for t in types}

    n = len(H_EX)
    err, loss, acc = {}, 0.0, 0
    for (u, v, y) in H_EX:
        z = float(h1["A"][u] @ h1["B"][v]) + b
        p = _sig(np.clip(z, -30, 30))
        err[(u, v)] = p - y
        loss += -(y * np.log(p) + (1 - y) * np.log(1 - p))
        acc += int((p > 0.5) == bool(y))
    gb = sum(err.values()) / n

    G1 = {t: {i: np.zeros(hid) for i in h1[t]} for t in types}
    for (u, v, _y) in H_EX:
        G1["A"][u] += err[(u, v)] * h1["B"][v]
        G1["B"][v] += err[(u, v)] * h1["A"][u]
    gp = {t: {i: G1[t][i] * h1[t][i] * (1 - h1[t][i]) for i in h1[t]}
          for t in types}

    grads = {"W0": {}, "Wself": {}, "attn": {}}
    Gh0 = {t: {i: np.zeros(hid) for i in h0[t]} for t in types}
    for t in types:
        grads["Wself"][t] = sum(
            np.outer(gp[t][i], h0[t][i]) for i in h0[t]) / n
        for i in h0[t]:
            Gh0[t][i] += params["Wself"][t].T @ gp[t][i]
    for et in ets:
        s_t, _r, d_t = et
        Wl, Wr, a = params["attn"][et]
        s, tt, q, alpha, m = fwd[et]
        gm = gp[d_t]                      # identity activation on msg
        c = {j: float(gm[j] @ m[j]) for j in h0[d_t]}
        ga = np.zeros_like(a)
        DS = {i: np.zeros(hid) for i in h0[s_t]}
        DT = {j: np.zeros(hid) for j in h0[d_t]}
        for (i, j) in H_EDGES[et]:
            ge = alpha[(i, j)] * (float(gm[j] @ s[i]) - c[j])
            dq = ge * a * dleaky(q[(i, j)])
            ga += ge * leaky(q[(i, j)])
            DS[i] += alpha[(i, j)] * gm[j] + dq
            DT[j] += dq
        gWl = sum(np.outer(DS[i], h0[s_t][i]) for i in h0[s_t]) / n
        gWr = sum(np.outer(DT[j], h0[d_t][j]) for j in h0[d_t]) / n
        grads["attn"][et] = (gWl, gWr, ga / n)
        for i in h0[s_t]:
            Gh0[s_t][i] += Wl.T @ DS[i]
        for j in h0[d_t]:
            Gh0[d_t][j] += Wr.T @ DT[j]
    for t in types:
        gm0 = {i: Gh0[t][i] * h0[t][i] * (1 - h0[t][i]) for i in h0[t]}
        grads["W0"][t] = sum(
            np.outer(gm0[i], x[t][i]) for i in h0[t]) / n
    return {"loss": loss / n, "acc": acc / n, "gb": gb, "grads": grads,
            "h1": h1}


def _hetero_params(seed=17):
    rng = np.random.default_rng(seed)
    return {
        "W0": {"A": rng.normal(0, 0.5, (2, 2)),
               "B": rng.normal(0, 0.5, (2, 3))},
        "Wself": {"A": rng.normal(0, 0.5, (2, 2)),
                  "B": rng.normal(0, 0.5, (2, 2))},
        "attn": {et: (rng.normal(0, 0.5, (2, 2)),
                      rng.normal(0, 0.5, (2, 2)),
                      rng.normal(0, 0.5, 2))
                 for et in sorted(H_EDGES)},
    }


def _hetero_frames(spark):
    edges = {et: spark.createDataFrame(rows, "src long, dst long")
             for et, rows in H_EDGES.items()}
    feats = {t: spark.createDataFrame(list(d.items()),
                                      "node_id long, emb array<double>")
             for t, d in H_TYPES.items()}
    return edges, feats


def test_hetero_layer_matches_numpy(spark):
    """The one hetero layer under the frozen forward and the trainer:
    its per-type output equals the numpy twin's h1."""
    from rel_db_to_graph_spark.ml.hetero import hetero_layer, input_projection

    edges, feats = _hetero_frames(spark)
    params = _hetero_params()
    N = input_projection(feats, params["W0"])
    _al, _msum, h1 = hetero_layer(edges, N, params["attn"], params["Wself"])
    got = {(r.nt, r.node_id): r.emb for r in h1.collect()}
    want = _np_hetero_epoch(params, 0.1)["h1"]
    assert set(got) == {(t, i) for t in want for i in want[t]}
    for t in want:
        for i, v in want[t].items():
            assert np.allclose(got[(t, i)], v, rtol=1e-10, atol=0), (t, i)


def test_hetero_gradients_match_numpy(spark):
    from rel_db_to_graph_spark.ml.gat_train import _hetero_epoch

    edges, feats = _hetero_frames(spark)
    ex = spark.createDataFrame(H_EX, "src long, dst long, label int")
    params = _hetero_params()
    b = 0.1

    got = _hetero_epoch(edges, feats, ex, params, b, "A", "B")
    want = _np_hetero_epoch(params, b)
    assert np.isclose(got["loss"], want["loss"], rtol=1e-10)
    assert np.isclose(got["gb"], want["gb"], rtol=1e-10)
    for t in ("A", "B"):
        assert np.allclose(got["grads"]["W0"][t], want["grads"]["W0"][t],
                           rtol=1e-7, atol=1e-12), ("W0", t)
        assert np.allclose(got["grads"]["Wself"][t],
                           want["grads"]["Wself"][t],
                           rtol=1e-7, atol=1e-12), ("Wself", t)
    for et in sorted(H_EDGES):
        for k in range(3):
            assert np.allclose(got["grads"]["attn"][et][k],
                               want["grads"]["attn"][et][k],
                               rtol=1e-7, atol=1e-12), (et, k)


def test_hetero_numpy_twin_matches_finite_differences():
    params = _hetero_params(seed=23)
    b = -0.05
    base = _np_hetero_epoch(params, b)
    eps = 1e-6

    def clone(ps):
        return {"W0": {t: w.copy() for t, w in ps["W0"].items()},
                "Wself": {t: w.copy() for t, w in ps["Wself"].items()},
                "attn": {et: tuple(w.copy() for w in ws)
                         for et, ws in ps["attn"].items()}}

    def loss_at(ps, bb):
        return _np_hetero_epoch(ps, bb)["loss"]

    for group in ("W0", "Wself"):
        for t, W in params[group].items():
            for idx in np.ndindex(*W.shape):
                pp, pm = clone(params), clone(params)
                pp[group][t][idx] += eps
                pm[group][t][idx] -= eps
                num = (loss_at(pp, b) - loss_at(pm, b)) / (2 * eps)
                assert np.isclose(base["grads"][group][t][idx], num,
                                  rtol=1e-4, atol=1e-8), (group, t, idx)
    for et, ws in params["attn"].items():
        for k, W in enumerate(ws):
            for idx in np.ndindex(*np.asarray(W).shape):
                pp, pm = clone(params), clone(params)
                pp["attn"][et][k][idx] += eps
                pm["attn"][et][k][idx] -= eps
                num = (loss_at(pp, b) - loss_at(pm, b)) / (2 * eps)
                assert np.isclose(base["grads"]["attn"][et][k][idx], num,
                                  rtol=1e-4, atol=1e-8), (et, k, idx)


def test_train_hetero_gat_learns(spark):
    from rel_db_to_graph_spark.ml.gat_train import train_hetero_gat

    rng = np.random.default_rng(2)
    na, nb = 10, 6
    fa = [(i, [float(rng.normal()), float(rng.normal())])
          for i in range(na)]
    fb = [(100 + j, [float(rng.normal()), float(rng.normal()),
                     float(rng.normal())]) for j in range(nb)]
    e_ab = [(i, 100 + (i % nb)) for i in range(na)]
    e_ba = [(100 + j, j % na) for j in range(nb)]
    ex = [(i, 100 + j, int((i + j) % 2 == 0))
          for i in range(na) for j in range(nb)]

    edges = {("A", "r", "B"): spark.createDataFrame(
                 e_ab, "src long, dst long"),
             ("B", "s", "A"): spark.createDataFrame(
                 e_ba, "src long, dst long")}
    feats = {"A": spark.createDataFrame(fa,
                                        "node_id long, emb array<double>"),
             "B": spark.createDataFrame(fb,
                                        "node_id long, emb array<double>")}
    ex_df = spark.createDataFrame(ex, "src long, dst long, label int")

    res = train_hetero_gat(edges, feats, ex_df, "A", "B", hidden=2,
                           epochs=3, lr=0.1, seed=3)
    losses = [h["train_loss"] for h in res.history]
    assert losses[-1] < losses[0], losses


def _toy_hetero(spark):
    rng = np.random.default_rng(2)
    na, nb = 10, 6
    fa = [(i, [float(rng.normal()), float(rng.normal())])
          for i in range(na)]
    fb = [(100 + j, [float(rng.normal()), float(rng.normal()),
                     float(rng.normal())]) for j in range(nb)]
    e_ab = [(i, 100 + (i % nb)) for i in range(na)]
    e_ba = [(100 + j, j % na) for j in range(nb)]
    ex = [(i, 100 + j, int((i + j) % 2 == 0))
          for i in range(na) for j in range(nb)]
    edges = {("A", "r", "B"): spark.createDataFrame(
                 e_ab, "src long, dst long"),
             ("B", "s", "A"): spark.createDataFrame(
                 e_ba, "src long, dst long")}
    feats = {"A": spark.createDataFrame(fa,
                                        "node_id long, emb array<double>"),
             "B": spark.createDataFrame(fb,
                                        "node_id long, emb array<double>")}
    ex_df = spark.createDataFrame(ex, "src long, dst long, label int")
    return edges, feats, ex_df


def test_sampled_matches_full_when_fanout_covers_graph(spark):
    """Exactness anchor: fanout ≥ max in-degree + a single batch ⇒ the
    sampled trainer IS the full-batch trainer (gradients only flow
    through seed embeddings, so sampling drops exactly the
    zero-gradient edges). This transfers the numpy/finite-difference
    crosschecks of _hetero_epoch to the sampled path."""
    from rel_db_to_graph_spark.ml.gat_train import (
        train_hetero_gat,
        train_hetero_gat_sampled,
    )

    edges, feats, ex_df = _toy_hetero(spark)
    full = train_hetero_gat(edges, feats, ex_df, "A", "B", hidden=2,
                            epochs=2, lr=0.1, seed=3)
    samp = train_hetero_gat_sampled(edges, feats, ex_df, "A", "B",
                                    hidden=2, fanouts=[100],
                                    batch_size=10_000, epochs=2, lr=0.1,
                                    seed=3)
    for hf, hs in zip(full.history, samp.history):
        assert abs(hf["train_loss"] - hs["train_loss"]) < 1e-9, (hf, hs)
        assert abs(hf["val_loss"] - hs["val_loss"]) < 1e-9
        assert hf["val_acc"] == hs["val_acc"]
    assert np.allclose(full.weights, samp.weights, rtol=1e-8, atol=1e-10)
    assert abs(full.bias - samp.bias) < 1e-9


def test_sampled_minibatch_training_learns(spark):
    """Real sampled regime: small fanout, several mini-batches per
    epoch — train BCE must still decrease."""
    from rel_db_to_graph_spark.ml.gat_train import train_hetero_gat_sampled

    edges, feats, ex_df = _toy_hetero(spark)
    res = train_hetero_gat_sampled(edges, feats, ex_df, "A", "B",
                                   hidden=2, fanouts=[2], batch_size=16,
                                   epochs=2, lr=0.1, seed=3)
    losses = [h["train_loss"] for h in res.history]
    assert losses[-1] < losses[0], losses
    assert all(h["train_n"] > 0 for h in res.history)


def test_sampled_subgraph_scales_with_fanout_not_edges(spark):
    """The 100 TB property (VERDICT r5 ask #2): per-batch sampled
    message edges are ≤ fanout × |seeds| PER EDGE TYPE, no matter how
    dense the graph — a star node with 500 in-edges contributes at most
    fanout of them."""
    from rel_db_to_graph_spark.operators.sampling import (
        sample_incoming_hetero,
    )

    hub_edges = [(i, 0) for i in range(500)] + [(i, 1) for i in range(7)]
    edges = {("A", "r", "B"): spark.createDataFrame(
        hub_edges, "src long, dst long")}
    seeds = {"B": spark.createDataFrame([(0,), (1,)], "node_id long")}
    fanout = 3
    samp = sample_incoming_hetero(edges, seeds, [fanout], seed=11)
    rows = samp.collect()
    assert len(rows) <= fanout * 2
    per_dst = {}
    for r in rows:
        per_dst[r.dst] = per_dst.get(r.dst, 0) + 1
    assert per_dst[0] == fanout          # hub capped at fanout, not 500
    assert all((r.src, r.dst) in set(hub_edges) for r in rows)


def _toy_homo(spark):
    rng = np.random.default_rng(1)
    n = 14
    xs = [(i, [float(rng.normal()), float(rng.normal())]) for i in range(n)]
    edges = [(i, (i + 1) % n) for i in range(n)] + \
            [(i, (i + 3) % n) for i in range(n)]
    examples = [(i, j, int((i + j) % 2 == 0))
                for i in range(n) for j in range(n) if i != j]
    return (spark.createDataFrame(edges, "src long, dst long"),
            spark.createDataFrame(xs, "node_id long, emb array<double>"),
            spark.createDataFrame(examples, "src long, dst long, label int"))


def test_stack_sampled_matches_full_when_fanouts_cover_graph(spark):
    """Full-depth exactness anchor: per-hop fanout ≥ max in-degree + a
    single batch ⇒ the sampled k-layer trainer IS train_gat_stack
    (sampling drops exactly the edges outside the seeds' k-hop
    gradient support)."""
    from rel_db_to_graph_spark.ml.gat_train import (
        train_gat_stack,
        train_gat_stack_sampled,
    )

    e_df, f_df, ex = _toy_homo(spark)
    full = train_gat_stack(e_df, f_df, ex, hidden=2, layers=2, epochs=2,
                           lr=0.1, seed=3)
    samp = train_gat_stack_sampled(e_df, f_df, ex, hidden=2, layers=2,
                                   fanouts=[100, 100], batch_size=10_000,
                                   epochs=2, lr=0.1, seed=3)
    for hf, hs in zip(full.history, samp.history):
        assert abs(hf["train_loss"] - hs["train_loss"]) < 1e-9, (hf, hs)
        assert abs(hf["val_loss"] - hs["val_loss"]) < 1e-9
    assert np.allclose(full.weights, samp.weights, rtol=1e-8, atol=1e-10)
    assert abs(full.bias - samp.bias) < 1e-9


def test_stack_sampled_minibatch_learns(spark):
    from rel_db_to_graph_spark.ml.gat_train import train_gat_stack_sampled

    e_df, f_df, ex = _toy_homo(spark)
    res = train_gat_stack_sampled(e_df, f_df, ex, hidden=2, layers=2,
                                  fanouts=[2, 2], batch_size=64,
                                  epochs=2, lr=0.1, seed=3)
    losses = [h["train_loss"] for h in res.history]
    assert losses[-1] < losses[0], losses
    assert all(h["train_n"] > 0 for h in res.history)


def test_sample_incoming_multihop_bound(spark):
    """k-hop in-closure stays fanout-bounded per hop: a 500-in-degree
    hub contributes ≤ fanout edges at its hop, and hop-1 expansion is
    bounded by fanout² per seed — never by |E|."""
    from pyspark.sql import functions as F

    from rel_db_to_graph_spark.operators.sampling import sample_incoming

    hub = [(i, 0) for i in range(500)] + [(500 + i, j)
                                          for i in range(200)
                                          for j in range(1, 3)]
    e_df = spark.createDataFrame(hub, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node_id long")
    fanout = 3
    samp = sample_incoming(e_df, seeds, [fanout, fanout], seed=5)
    rows = samp.collect()
    h0 = [r for r in rows if r.hop == 0]
    h1 = [r for r in rows if r.hop == 1]
    assert len(h0) == fanout                     # hub capped, not 500
    assert len(h1) <= fanout * fanout
    assert all(r.dst == 0 for r in h0)
    edge_set = set(hub)
    assert all((r.src, r.dst) in edge_set for r in rows)


def test_val_closure_matches_full_graph(spark):
    """The val-set dependency closure (round-7: per-epoch validation no
    longer forwards the full graph) must produce IDENTICAL val stats:
    full in-neighborhoods of the val endpoints restricted to the
    closure feed every softmax/sum the full-graph forward feeds."""
    from rel_db_to_graph_spark.ml.gat_train import (
        _batch_closure,
        _hetero_epoch,
        _stack_epoch,
    )
    from rel_db_to_graph_spark.operators.sampling import (
        sample_incoming,
        sample_incoming_hetero,
    )

    # hetero: arbitrary "val" subset + random params
    edges, feats, ex_df = _toy_hetero(spark)
    val = ex_df.filter((F.col("src") + F.col("dst")) % 3 == 0)
    rng = np.random.default_rng(7)
    params = {
        "W0": {"A": rng.normal(size=(2, 2)), "B": rng.normal(size=(2, 3))},
        "Wself": {"A": rng.normal(size=(2, 2)),
                  "B": rng.normal(size=(2, 2))},
        "attn": {et: (rng.normal(size=(2, 2)), rng.normal(size=(2, 2)),
                      rng.normal(size=2))
                 for et in sorted(edges)},
    }
    full = _hetero_epoch(edges, feats, val, params, 0.1, "A", "B",
                         with_grads=False)
    vseeds = {"A": val.select(F.col("src").alias("node_id")),
              "B": val.select(F.col("dst").alias("node_id"))}
    vsamp = sample_incoming_hetero(edges, vseeds, [-1], seed=1)
    sub, fcut = _batch_closure(vsamp, vseeds, sorted(edges), feats)
    clo = _hetero_epoch(sub, fcut, val, params, 0.1, "A", "B",
                        with_grads=False)
    assert clo["n"] == full["n"] > 0
    assert abs(clo["loss"] - full["loss"]) < 1e-12
    assert clo["acc"] == full["acc"]

    # homogeneous 2-layer stack: 2-hop closure
    e_df, f_df, ex = _toy_homo(spark)
    val2 = ex.filter((F.col("src") * 7 + F.col("dst")) % 4 == 0)
    sparams = [(rng.normal(size=(2, 2)), rng.normal(size=(2, 2)),
                rng.normal(size=2)),
               (rng.normal(size=(2, 2)), rng.normal(size=(2, 2)),
                rng.normal(size=2))]
    full2 = _stack_epoch(e_df, f_df, val2, sparams, -0.05,
                         with_grads=False)
    vseeds2 = (val2.select(F.col("src").alias("node_id"))
               .unionAll(val2.select(F.col("dst").alias("node_id")))
               .distinct())
    vsamp2 = sample_incoming(e_df, vseeds2, [-1, -1], seed=1)
    sub2 = vsamp2.select("src", "dst").distinct()
    vids = (vseeds2
            .unionAll(vsamp2.select(F.col("src").alias("node_id")))
            .unionAll(vsamp2.select(F.col("dst").alias("node_id")))
            ).distinct()
    clo2 = _stack_epoch(sub2, f_df.join(vids, "node_id"), val2, sparams,
                        -0.05, with_grads=False)
    assert clo2["n"] == full2["n"] > 0
    assert abs(clo2["loss"] - full2["loss"]) < 1e-12
    assert clo2["acc"] == full2["acc"]


def test_sampled_gate_batch_assumptions(spark):
    """ADVICE r9: the sampled-trainer DuckDB twins hardcode the step
    count and divide every GD update by the batch's n unconditionally,
    while the engine uses steps = min(n_batches, max_batches) and
    SKIPS empty batches. Assert — at the ORACLE scale factor, for both
    gated configs — that n_batches >= steps and every replayed batch
    is non-empty, so a data change fails HERE with a clear message
    instead of as an opaque hash mismatch."""
    from pyspark.sql import functions as F

    from rel_db_to_graph_spark.operators.sampling import negative_sample
    from rel_db_to_graph_spark.operators.split import hash_split
    from rel_db_to_graph_spark.pipeline import build_graph
    from rel_db_to_graph_spark.queries import _ring_stride_fixture
    from tests.conftest import SF_ORACLE

    seed = 42

    def member(epoch):
        dig = F.md5(F.concat_ws(
            ":", F.col("src").cast("string"), F.col("dst").cast("string"),
            F.lit(str(seed + epoch))))
        return F.conv(F.substring(dig, 1, 8), 16, 10).cast("long")

    def check(examples, batch_size, steps, epochs, label):
        train = (hash_split(examples, val_frac=0.2, test_frac=0.0,
                            seed=seed, draw="md5")
                 .filter(F.col("split") == "train"))
        n_train = train.count()
        n_batches = max(1, -(-n_train // batch_size))
        assert n_batches >= steps, (
            f"{label}: n_batches={n_batches} < steps={steps} — the "
            f"DuckDB twin unrolls exactly {steps} steps")
        for epoch in range(epochs):
            counts = {r["bi"]: r["n"] for r in
                      (train.withColumn(
                          "bi", F.pmod(member(epoch), F.lit(n_batches)))
                       .filter(F.col("bi") < steps).groupBy("bi")
                       .agg(F.count("*").alias("n"))).collect()}
            for k in range(steps):
                assert counts.get(k, 0) > 0, (
                    f"{label}: epoch {epoch} batch {k} is EMPTY — the "
                    f"engine skips it (no update), the twin does not")

    _edges, _feats, pairs = _ring_stride_fixture(spark, SF_ORACLE)
    check(pairs, batch_size=128, steps=2, epochs=2,
          label="gat_stack_train_sampled_q")

    g = build_graph(spark, SF_ORACLE)
    pos = g["edges"][("orders", "hasCust", "customer")]
    labeled = negative_sample(pos, g["nodes"]["customer"].select("node_id"),
                              ratio=1, seed=seed, draw="md5")
    check(labeled, batch_size=512, steps=2, epochs=2,
          label="hetero_link_train_sampled_q")
