"""GNN dataflow tests: aggregate-messages semantics, multi-layer forward
shape/determinism, decoder range."""

from __future__ import annotations

from pyspark.sql import functions as F

from rel_db_to_graph_spark.ml.gnn import aggregate_messages, decode_edges, gnn_forward


def _toy(spark):
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 2)], "src long, dst long")
    feats = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [5.0, 6.0])],
        "node_id long, emb array<double>")
    return edges, feats


def test_aggregate_messages_sum(spark):
    edges, feats = _toy(spark)
    out = {r["node_id"]: r["msg"] for r in
           aggregate_messages(edges, feats).collect()}
    assert out[1] == [1.0, 2.0]                       # from node 0
    assert out[2] == [1.0 + 3.0 + 5.0, 2.0 + 4.0 + 6.0]  # from 0,1,2
    assert 0 not in out                               # no in-edges


def test_aggregate_messages_mean(spark):
    edges, feats = _toy(spark)
    out = {r["node_id"]: r["msg"] for r in
           aggregate_messages(edges, feats, agg="mean").collect()}
    assert out[2] == [3.0, 4.0]


def test_forward_deterministic(spark):
    edges, feats = _toy(spark)
    a = gnn_forward(edges, feats, hidden=3, layers=2, seed=1).collect()
    b = gnn_forward(edges, feats, hidden=3, layers=2, seed=1).collect()
    assert sorted((r["node_id"], r["emb"]) for r in a) == \
           sorted((r["node_id"], r["emb"]) for r in b)
    assert all(len(r["emb"]) == 3 for r in a)


def test_decoder_probability_range(spark):
    edges, feats = _toy(spark)
    emb = gnn_forward(edges, feats, hidden=3, layers=1, seed=1)
    probs = decode_edges(edges, emb)
    bad = probs.filter((F.col("prob") < 0) | (F.col("prob") > 1)).count()
    assert bad == 0
    assert probs.count() == 4
