"""End-to-end pipeline — the reference's three entry points composed
(SURVEY.md §3): convert (graph build) → train (split/sample/train) →
inference (mutate + score + top-k), each stage a function over the same
node/edge frames.

This is the integration surface a user of the reference would migrate
to: ``convert()`` replaces `python convert_to_graph.py`, ``train()``
replaces `python train.py`, ``recommend()`` replaces the Streamlit
`predict_songs` call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rel_db_to_graph_spark.functions.vector import dot, sigmoid, to_double
from rel_db_to_graph_spark.ml.gnn import gnn_forward
from rel_db_to_graph_spark.ml.train import TrainResult, train_edge_scorer
from rel_db_to_graph_spark.operators.graph_build import build_graph
from rel_db_to_graph_spark.operators.mutate import mutate_for_inference
from rel_db_to_graph_spark.operators.sampling import negative_sample
from rel_db_to_graph_spark.operators.split import random_link_split


def convert(spark: SparkSession, sf_dir: str, out_dir: str | None = None) -> dict:
    """Stage 1 (convert_to_graph.py analog): registry → typed graph."""
    return build_graph(spark, sf_dir, out_dir=out_dir)


def node_embeddings(graph: dict, node_type: str, edges: DataFrame,
                    hidden: int = 4, layers: int = 2, seed: int = 42) -> DataFrame:
    """GNN forward over the given (src, dst) edges within ``node_type``'s
    id space; features = the node frame's numeric columns (degree
    included)."""
    nf = graph["nodes"][node_type]
    feat_cols = [c for c in nf.columns if c not in ("node_id", "pk")]
    feats = nf.select(
        "node_id",
        F.array(*[F.col(c).cast("double") / 100.0 for c in feat_cols]).alias("emb"))
    return gnn_forward(edges, feats, hidden=hidden, layers=layers, seed=seed)


def train(graph: dict, edge_type: tuple, epochs: int = 5,
          seed: int = 42) -> TrainResult:
    """Stage 2 (train.py analog): split → negatives → logistic training
    on endpoint degree/feature vectors."""
    edges = graph["edges"][edge_type]
    src_t, _rel, dst_t = edge_type
    splits = random_link_split(edges, val_frac=0.15, test_frac=0.0, seed=seed)
    train_edges = splits["train"]

    dst_ids = graph["nodes"][dst_t].select("node_id")
    labeled = negative_sample(train_edges, dst_ids, ratio=1, seed=seed)

    def cols(t: str) -> list[str]:
        return [c for c in graph["nodes"][t].columns
                if c not in ("node_id", "pk")]

    def side(t: str, role: str) -> DataFrame:
        nf = graph["nodes"][t]
        # max-abs scale each feature to [-1, 1]: unscaled magnitudes
        # (o_totalprice ~1e5) blow up full-batch gradient steps
        maxes = nf.agg(*[F.max(F.abs(F.col(c).cast("double"))).alias(c)
                         for c in cols(t)]).collect()[0]
        return nf.select(
            F.col("node_id").alias(role),
            F.array(*[F.col(c).cast("double") / float(maxes[c] or 1.0)
                      for c in cols(t)]).alias(f"_{role}_arr"))

    ex = (labeled.join(side(src_t, "src"), "src")
          .join(side(dst_t, "dst"), "dst"))
    # no src·dst cross term: endpoint feature vectors of different node
    # types have different lengths, and zip_with pads with nulls
    feats = F.concat(F.col("_src_arr"), F.col("_dst_arr"))
    examples = ex.select("src", "dst", "label", feats.alias("features"))
    # the vector width is known from the column lists: reading it off a
    # row would run the negatives-and-joins lineage an extra time
    dim = len(cols(src_t)) + len(cols(dst_t))
    return train_edge_scorer(examples, dim=dim, epochs=epochs, seed=seed)


def recommend(graph: dict, edge_type: tuple, selected_dst_ids: list[int],
              k: int = 10, hidden: int = 4, layers: int = 2,
              seed: int = 42) -> DataFrame:
    """Stage 3 (inference.py analog): mutate the graph with a new node
    whose neighbors are ``selected_dst_ids``, embed the dst nodes with a
    GNN forward over their own-type graph (SELF_LOOP + any same-type
    edges — the homogeneous slice the encoder operates on), then score
    every candidate with the dot decoder against the new node's
    embedding (= mean of its selected neighbors), top-k."""
    src_t, _rel, dst_t = edge_type
    m = mutate_for_inference(graph, edge_type, selected_dst_ids)

    # homogeneous dst-type subgraph: self loops + any dst→dst edge types
    same_type = [df for (s, r, d), df in m["edges"].items()
                 if s == dst_t and d == dst_t]
    edges_dd = same_type[0]
    for df in same_type[1:]:
        edges_dd = edges_dd.unionAll(df)
    emb_dst = node_embeddings(graph, dst_t, edges_dd,
                              hidden=hidden, layers=layers, seed=seed)
    emb_dst = emb_dst.localCheckpoint(eager=True)

    # new-node embedding = mean of its selected neighbors' embeddings
    sel = [int(x) for x in selected_dst_ids]
    sel_emb = (emb_dst.filter(F.col("node_id").isin(sel))
               .select(F.posexplode("emb").alias("pos", "x"))
               .groupBy("pos").agg(F.avg("x").alias("m"))
               .orderBy("pos").collect())
    new_emb = F.array(*[F.lit(float(r.m)) for r in sel_emb])

    scored = (
        m["candidates"]
        .join(emb_dst.select(F.col("node_id").alias("dst"), "emb"), "dst")
        .select("dst",
                F.round(sigmoid(dot(to_double(F.col("emb")), new_emb)), 6)
                .alias("prob"))
    )
    return scored.orderBy(F.desc("prob"), F.col("dst")).limit(k)
