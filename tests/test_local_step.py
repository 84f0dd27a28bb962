"""The local (collected-closure) step engine (ml/local_step.py) must
agree with the DataFrame epoch operation for operation — it is the
sampled trainers' only step engine, and the DataFrame epochs
(_hetero_epoch, _stack_epoch) are its reference, so any drift here is
a silent trainer fork. Integer outputs must match exactly; floats to
the same tolerances the numpy twins already pin (the residual class is
summation order / libm ulps, which the DuckDB oracle twins absorb by
construction)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rel_db_to_graph_spark.ml.local_step import hetero_epoch_local

H_TYPES = {"A": {0: [1.0, 0.2], 1: [0.3, -0.5], 2: [-0.7, 0.9]},
           "B": {10: [0.5, -1.0, 0.1], 11: [1.0, 0.3, -0.2]}}
H_EDGES = {("A", "r", "B"): [(0, 10), (1, 10), (2, 11), (0, 11)],
           ("B", "s", "A"): [(10, 0), (11, 1), (10, 2)]}
H_EX = [(0, 10, 1), (1, 10, 0), (2, 11, 1), (0, 11, 0), (1, 11, 1)]


def _np_inputs():
    edges = {et: (np.array([s for s, _ in rows], dtype=np.int64),
                  np.array([d for _, d in rows], dtype=np.int64))
             for et, rows in H_EDGES.items()}
    feats = {t: (np.array(sorted(d), dtype=np.int64),
                 np.array([d[i] for i in sorted(d)], dtype=np.float64))
             for t, d in H_TYPES.items()}
    ex = (np.array([e[0] for e in H_EX], dtype=np.int64),
          np.array([e[1] for e in H_EX], dtype=np.int64),
          np.array([float(e[2]) for e in H_EX]))
    return edges, feats, ex


def _spark_inputs(spark):
    edges = {et: spark.createDataFrame(rows, "src long, dst long")
             for et, rows in H_EDGES.items()}
    feats = {t: spark.createDataFrame(list(d.items()),
                                      "node_id long, emb array<double>")
             for t, d in H_TYPES.items()}
    ex = spark.createDataFrame(H_EX, "src long, dst long, label int")
    return edges, feats, ex


def _params(seed=17):
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


def _assert_stats_close(got, want):
    assert got["n"] == want["n"]
    assert np.isclose(got["loss"], want["loss"], rtol=1e-9)
    assert np.isclose(got["gb"], want["gb"], rtol=1e-9)
    assert got["acc"] == want["acc"]
    if "grads" in want:
        for t in H_TYPES:
            assert np.allclose(got["grads"]["W0"][t],
                               want["grads"]["W0"][t],
                               rtol=1e-7, atol=1e-12), ("W0", t)
            assert np.allclose(got["grads"]["Wself"][t],
                               want["grads"]["Wself"][t],
                               rtol=1e-7, atol=1e-12), ("Wself", t)
        for et in sorted(H_EDGES):
            for k in range(3):
                assert np.allclose(
                    np.asarray(got["grads"]["attn"][et][k]),
                    np.asarray(want["grads"]["attn"][et][k]),
                    rtol=1e-7, atol=1e-12), (et, k)


def test_local_epoch_matches_dataframe_epoch(spark):
    from rel_db_to_graph_spark.ml.gat_train import _hetero_epoch

    params, b = _params(), 0.1
    want = _hetero_epoch(*_spark_inputs(spark), params, b, "A", "B")
    got = hetero_epoch_local(*_np_inputs(), params, b, "A", "B")
    _assert_stats_close(got, want)


def test_local_epoch_matches_dataframe_epoch_quantized(spark):
    """The 6-dp float-parity mode (the hash-gated configuration's
    forward convention): HALF_UP rounding + decimal partition sums must
    be reproduced, not approximated."""
    from rel_db_to_graph_spark.ml.gat_train import _hetero_epoch

    params, b = _params(23), -0.05
    want = _hetero_epoch(*_spark_inputs(spark), params, b, "A", "B",
                         quantize=True)
    got = hetero_epoch_local(*_np_inputs(), params, b, "A", "B",
                             quantize=True)
    _assert_stats_close(got, want)


def test_local_epoch_forward_only(spark):
    from rel_db_to_graph_spark.ml.gat_train import _hetero_epoch

    params, b = _params(5), 0.3
    want = _hetero_epoch(*_spark_inputs(spark), params, b, "A", "B",
                         with_grads=False)
    got = hetero_epoch_local(*_np_inputs(), params, b, "A", "B",
                             with_grads=False)
    _assert_stats_close(got, want)
    assert "grads" not in got


def test_local_epoch_missing_example_endpoints(spark):
    """Examples whose endpoints are outside the closure decode against
    zero vectors — the DataFrame epoch's left-join + coalesce."""
    from rel_db_to_graph_spark.ml.gat_train import _hetero_epoch

    s_edges, s_feats, _ = _spark_inputs(spark)
    ex_rows = [(0, 10, 1), (999, 998, 0), (2, 997, 1)]
    ex_df = spark.createDataFrame(ex_rows, "src long, dst long, label int")
    params, b = _params(7), 0.2
    want = _hetero_epoch(s_edges, s_feats, ex_df, params, b, "A", "B")

    edges, feats, _ = _np_inputs()
    ex = (np.array([e[0] for e in ex_rows], dtype=np.int64),
          np.array([e[1] for e in ex_rows], dtype=np.int64),
          np.array([float(e[2]) for e in ex_rows]))
    got = hetero_epoch_local(edges, feats, ex, params, b, "A", "B")
    _assert_stats_close(got, want)


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


@pytest.mark.parametrize("quantize", [False, True])
def test_closure_fetch_matches_dataframe_closure(spark, quantize):
    """The trainer's fetch seam: one sampled batch's closure built by
    _closure_union (broadcast id join), collected, parsed by
    parse_closure_rows and stepped by hetero_epoch_local must give the
    stats and grads of _hetero_epoch over the _batch_closure frames of
    the same draw. Fanout 1 is below the in-degree of four of the six
    B nodes, so the draw really drops edges."""
    from rel_db_to_graph_spark.ml.gat_train import (
        _batch_closure,
        _closure_union,
        _hetero_epoch,
    )
    from rel_db_to_graph_spark.ml.local_step import parse_closure_rows
    from rel_db_to_graph_spark.operators.sampling import (
        sample_incoming_hetero,
    )

    edges, feats, ex_df = _toy_hetero(spark)
    ets, types = sorted(edges), sorted(feats)
    batch = ex_df.filter(F.col("src") < 4)
    seeds = {"A": batch.select(F.col("src").alias("node_id")),
             "B": batch.select(F.col("dst").alias("node_id"))}
    samp = sample_incoming_hetero(edges, seeds, [1], seed=11
                                  ).localCheckpoint(eager=True)
    params, b = _params(41), 0.15

    xrows = batch.select(
        F.lit("x").alias("kind"), F.lit("").alias("tag"), "src", "dst",
        F.col("label").cast("bigint").alias("node_id"),
        F.lit(None).cast("array<double>").alias("emb"))
    rows = (_closure_union(samp, seeds, ets, feats, broadcast_ids=True)
            .unionByName(xrows).collect())
    n_ab = sum(1 for r in rows if r["kind"] == "e" and r["tag"] == "A|r|B")
    assert 0 < n_ab < 10            # 10 A->B edges, all into batch seeds
    got = hetero_epoch_local(*parse_closure_rows(rows, ets, types),
                             params, b, "A", "B", quantize=quantize)

    sub, fcut = _batch_closure(samp, seeds, ets, feats)
    want = _hetero_epoch(sub, fcut, batch, params, b, "A", "B",
                         quantize=quantize)
    assert want["n"] == 24
    _assert_stats_close(got, want)


def test_trainer_local_engine_agrees_store_path(spark):
    """Training over the dst-bucketed edge-store sampler (the 100 TB
    probe path) must equal the direct-scan run — the store/direct
    bit-identity of the sampler composes with the step engine."""
    from rel_db_to_graph_spark.ml.gat_train import train_hetero_gat_sampled
    from rel_db_to_graph_spark.sources.bucketed import write_edge_store

    edges, feats, ex_df = _toy_hetero(spark)
    sub = {et: df.select("src", "dst") for et, df in edges.items()}
    tables = write_edge_store(sub, num_buckets=4,
                              prefix="t_local_engine")
    kw = dict(src_type="A", dst_type="B", hidden=2, fanouts=[2],
              batch_size=16, epochs=2, lr=0.1, seed=3)
    direct = train_hetero_gat_sampled(edges, feats, ex_df, **kw)
    stored = train_hetero_gat_sampled(edges, feats, ex_df,
                                      edge_tables=tables, **kw)
    for ha, hb in zip(direct.history, stored.history):
        assert ha == hb, (ha, hb)
    assert direct.weights == stored.weights


# ---------------- homogeneous stack engine ----------------

S_EDGES = [(0, 10), (1, 10), (1, 11), (2, 11), (0, 12), (10, 1), (11, 0),
           (12, 2)]
S_FEATS = {0: [1.0, 0.2], 1: [0.3, -0.5], 2: [-0.7, 0.9],
           10: [0.5, 0.5], 11: [1.0, 0.0], 12: [-0.2, 0.8]}
S_EX = [(0, 10, 1), (1, 10, 0), (1, 11, 1), (2, 11, 0), (0, 12, 1),
        (2, 999, 0)]


def _stack_params(layers=2, hidden=2, d_in=2, seed=13):
    rng = np.random.default_rng(seed)
    out, dim = [], d_in
    for _ in range(layers):
        out.append((rng.normal(0, 0.5, (hidden, dim)),
                    rng.normal(0, 0.5, (hidden, dim)),
                    rng.normal(0, 0.5, hidden)))
        dim = hidden
    return out


def _np_stack_inputs():
    edges = (np.array([s for s, _ in S_EDGES], dtype=np.int64),
             np.array([d for _, d in S_EDGES], dtype=np.int64))
    feats = (np.array(sorted(S_FEATS), dtype=np.int64),
             np.array([S_FEATS[i] for i in sorted(S_FEATS)]))
    ex = (np.array([e[0] for e in S_EX], dtype=np.int64),
          np.array([e[1] for e in S_EX], dtype=np.int64),
          np.array([float(e[2]) for e in S_EX]))
    return edges, feats, ex


def _spark_stack_inputs(spark):
    return (spark.createDataFrame(S_EDGES, "src long, dst long"),
            spark.createDataFrame(list(S_FEATS.items()),
                                  "node_id long, emb array<double>"),
            spark.createDataFrame(S_EX, "src long, dst long, label int"))


def _assert_stack_stats_close(got, want, n_layers):
    assert got["n"] == want["n"]
    assert np.isclose(got["loss"], want["loss"], rtol=1e-9)
    assert np.isclose(got["gb"], want["gb"], rtol=1e-9)
    assert got["acc"] == want["acc"]
    if "grads" in want:
        for li in range(n_layers):
            for k in range(3):
                assert np.allclose(
                    np.asarray(got["grads"][li][k]),
                    np.asarray(want["grads"][li][k]),
                    rtol=1e-7, atol=1e-12), (li, k)


def test_stack_local_epoch_matches_dataframe(spark):
    from rel_db_to_graph_spark.ml.gat_train import _stack_epoch
    from rel_db_to_graph_spark.ml.local_step import stack_epoch_local

    params, b = _stack_params(), 0.1
    want = _stack_epoch(*_spark_stack_inputs(spark), params, b)
    got = stack_epoch_local(*_np_stack_inputs(), params, b)
    _assert_stack_stats_close(got, want, len(params))


def test_stack_local_epoch_matches_dataframe_quantized(spark):
    from rel_db_to_graph_spark.ml.gat_train import _stack_epoch
    from rel_db_to_graph_spark.ml.local_step import stack_epoch_local

    params, b = _stack_params(seed=29), -0.2
    want = _stack_epoch(*_spark_stack_inputs(spark), params, b,
                        quantize=True)
    got = stack_epoch_local(*_np_stack_inputs(), params, b,
                            quantize=True)
    _assert_stack_stats_close(got, want, len(params))


def test_stack_local_epoch_forward_only(spark):
    from rel_db_to_graph_spark.ml.gat_train import _stack_epoch
    from rel_db_to_graph_spark.ml.local_step import stack_epoch_local

    params, b = _stack_params(seed=31), 0.4
    want = _stack_epoch(*_spark_stack_inputs(spark), params, b,
                        with_grads=False)
    got = stack_epoch_local(*_np_stack_inputs(), params, b,
                            with_grads=False)
    _assert_stack_stats_close(got, want, len(params))
    assert "grads" not in got


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


def test_stack_trainer_local_engine_agrees_store_quantized(spark):
    """Stack twin of test_trainer_local_engine_agrees_store_path, in the
    gated configuration (sgd + quantize + md5 draws, two epochs so the
    store path's prefetched epoch group is consumed): the edge-table
    run must equal the direct-scan run exactly."""
    from rel_db_to_graph_spark.ml.gat_train import train_gat_stack_sampled
    from rel_db_to_graph_spark.sources.bucketed import write_edge_table

    e_df, f_df, ex = _toy_homo(spark)
    write_edge_table(e_df, "t_local_stack_engine", num_buckets=4)
    kw = dict(hidden=2, layers=2, fanouts=[2, 2], batch_size=64,
              epochs=2, lr=0.5, seed=3, optimizer="sgd", quantize=True,
              split_draw="md5", batch_draw="md5", sample_draw="md5")
    direct = train_gat_stack_sampled(e_df, f_df, ex, **kw)
    stored = train_gat_stack_sampled(e_df, f_df, ex,
                                     edge_table="t_local_stack_engine", **kw)
    for ha, hb in zip(direct.history, stored.history):
        assert ha == hb, (ha, hb)
    assert direct.weights == stored.weights
    assert direct.bias == stored.bias
