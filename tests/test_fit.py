"""The shared fit loop, the flat parameter codecs and the up-front name
checks — numpy only, no Spark session: every call here must finish (or
raise) before any DataFrame is touched."""

from __future__ import annotations

import numpy as np
import pytest

from rel_db_to_graph_spark.ml import gat_train, train
from rel_db_to_graph_spark.operators.split import hash_split


class _Frame:
    """Stand-in for a cached split frame."""

    def __init__(self):
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True
        return self


def test_fit_keeps_the_best_val_epoch(monkeypatch):
    frames = (_Frame(), _Frame())
    calls = []

    def split(*args):
        calls.append("split")
        return (*frames, 10, 4)

    def prepare():
        calls.append("prepare")
        return "prepared"

    monkeypatch.setattr(train, "_cached_split", split)
    accs = iter([0.5, 0.7, 0.7, 0.6])
    closed = []

    def start(state, tr, va, n_train, n_val, scope):
        assert state == "prepared"
        assert (tr, va, n_train, n_val) == (*frames, 10, 4)
        scope.callback(closed.append, True)

        def train_epoch(epoch, theta, step):
            # plain GD with lr 1 on a constant gradient: theta moves by
            # (+1, +0.5) per epoch
            return (step(theta, [-1.0, -0.5]),
                    {"train_loss": 1.0 / (epoch + 1), "train_n": 3})
        return ([0.0, 0.0], train_epoch,
                lambda theta: {"loss": theta[0] / 10, "acc": next(accs)})

    res = train.fit(None, prepare, start, epochs=4, optimizer="sgd",
                    lr=1.0, weight_decay=0.0, val_frac=0.2, seed=1)
    # the model's setup jobs run before the split, as they always did
    assert calls == ["prepare", "split"]
    # the >= rule: epoch 2 ties epoch 1 at 0.7 and wins
    assert res.best_epoch == 2 and res.best_val_acc == 0.7
    assert res.weights == [3.0] and res.bias == 1.5
    assert [list(h) for h in res.history] == [
        ["epoch", "train_loss", "train_n", "val_loss", "val_acc"]] * 4
    assert [h["val_acc"] for h in res.history] == [0.5, 0.7, 0.7, 0.6]
    assert [h["val_loss"] for h in res.history] == [0.1, 0.2, 0.3, 0.4]
    assert [h["epoch"] for h in res.history] == [0, 1, 2, 3]
    assert closed == [True]
    assert all(f.unpersisted for f in frames)


def test_stack_codec_round_trip():
    like = gat_train._stack_init(d_in=3, hidden=2, layers=2, seed=5)
    v = gat_train._stack_flat(like, 0.25)
    # layer 0: Wl, Wr 2x3 + a 2; layer 1: Wl, Wr 2x2 + a 2; the bias
    assert len(v) == (6 + 6 + 2) + (4 + 4 + 2) + 1
    assert v[:6] == [float(x) for x in like[0][0].ravel()]
    params, b = gat_train._stack_unflat(v, like)
    assert b == 0.25
    for got, want in zip(params, like):
        for g, w in zip(got, want):
            assert g.shape == w.shape
            assert np.array_equal(g, w)
    assert gat_train._stack_flat(params, b) == v


def test_hetero_codec_round_trip():
    ets = [("B", "s", "A"), ("A", "r", "B")]
    like = gat_train._hetero_init({"B": 3, "A": 2}, ets, hidden=2, seed=7)
    v = gat_train._hetero_flat(like, -0.5)
    # W0 (A 2x2, B 2x3), Wself (2x2 each), attn (2x2, 2x2, 2) per type
    assert len(v) == (4 + 6) + (4 + 4) + 2 * (4 + 4 + 2) + 1
    assert v[:4] == [float(x) for x in like["W0"]["A"].ravel()]
    params, b = gat_train._hetero_unflat(v, like)
    assert b == -0.5
    assert list(params["attn"]) == sorted(ets)
    for key in ("W0", "Wself"):
        for t in ("A", "B"):
            assert np.array_equal(params[key][t], like[key][t])
    for et in ets:
        for g, w in zip(params["attn"][et], like["attn"][et]):
            assert np.array_equal(g, w)
    assert gat_train._hetero_flat(params, b) == v


@pytest.mark.parametrize("run", [
    lambda kw: train.train_edge_scorer(None, dim=2, **kw),
    lambda kw: gat_train.train_gat_stack(None, None, None, hidden=2, **kw),
    lambda kw: gat_train.train_hetero_gat_sampled(
        {}, {}, None, "A", "B", hidden=2, **kw),
    lambda kw: gat_train.train_gat_stack_sampled(
        None, None, None, hidden=2, **kw),
], ids=["edge_scorer", "gat_stack", "hetero_sampled", "stack_sampled"])
@pytest.mark.parametrize("optimizer", ["adam", "SGD", "adamw "])
def test_unknown_optimizer_raises_before_spark(run, optimizer):
    with pytest.raises(ValueError, match="unknown optimizer"):
        run({"optimizer": optimizer})


def test_unknown_draw_raises_in_hash_split():
    with pytest.raises(ValueError, match="unknown draw 'MD5'"):
        hash_split(None, draw="MD5")


@pytest.mark.parametrize("run", [
    lambda kw: gat_train.train_hetero_gat_sampled(
        {}, {}, None, "A", "B", hidden=2, **kw),
    lambda kw: gat_train.train_gat_stack_sampled(
        None, None, None, hidden=2, **kw),
], ids=["hetero_sampled", "stack_sampled"])
@pytest.mark.parametrize("name", ["split_draw", "batch_draw",
                                  "sample_draw"])
def test_unknown_draw_raises_before_spark(run, name):
    with pytest.raises(ValueError, match="unknown draw 'MD5'"):
        run({name: "MD5"})


def test_unknown_split_draw_raises_in_full_batch_fit():
    with pytest.raises(ValueError, match="unknown draw 'murmur3'"):
        gat_train.train_gat_stack(None, None, None, hidden=2,
                                  split_draw="murmur3")
