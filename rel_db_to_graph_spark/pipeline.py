"""End-to-end pipeline — the reference's three entry points composed
(SURVEY.md §3): convert (graph build) → train (split/sample/train) →
inference (embed + score + top-k), each stage a function over the same
node/edge frames.

This is the integration surface a user of the reference would migrate
to: ``convert()`` replaces `python convert_to_graph.py`, ``train()``
replaces `python train.py`, ``recommend()`` replaces the Streamlit
`predict_songs` call.

Serving splits the work the Modularis way: Spark moves the data once,
the driver does the small dense math. The reference mutates the graph
with the request's new src node and runs a full forward per request
(I:44-76). For a cross-type edge that mutation
(``operators.mutate.mutate_for_inference``) rewrites only the target
edge type, its REVERSE and the src SELF_LOOP — never a dst→dst edge —
so the dst-type embedding the request is scored against cannot depend
on the basket. ``recommend`` therefore computes it once per graph,
collects it into a float64 matrix indexed by the dense node id, kept in
the graph dict (``graph["dst_tables"]``), and scores every request from
that table in numpy. The collect is bounded by
``DST_TABLE_MAX_BYTES``. The table lives and dies with the
graph: evicting the ``graph_build._GRAPH_CACHE`` entry or
``queries.clear_caches()`` drops it, and being plain numpy it has
nothing to unpersist. The served embedding is a frozen, seeded forward
(``ml.gnn.gnn_forward``), not the model ``train()`` fits; the reference
serves its trained checkpoint instead (SURVEY.md I:12-41).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rel_db_to_graph_spark.ml.gnn import gnn_forward
from rel_db_to_graph_spark.ml.train import TrainResult, train_edge_scorer
from rel_db_to_graph_spark.operators.graph_build import build_graph
# not called here since serving reads the per-graph dst table; kept as a
# module attribute because perfbench's pipeline workload wraps
# ``pipeline.mutate_for_inference`` in its ``mutate`` span
from rel_db_to_graph_spark.operators.mutate import mutate_for_inference  # noqa: F401
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


# the per-graph dst table is collected to the driver: past this many
# bytes of float64 rows (8.4M dst rows at hidden=4) serving refuses
# rather than overrun ``spark.driver.maxResultSize``
DST_TABLE_MAX_BYTES = 256 << 20


def _dst_table(graph: dict, dst_t: str, hidden: int, layers: int,
               seed: int) -> np.ndarray:
    """float64 embedding rows of ``dst_t``, row ``i`` for node id ``i``
    (ids are ``dense_ids_scalable``'s 0..N-1): one GNN forward over its
    own-type edges (SELF_LOOP + any dst→dst edge types), collected once
    per graph and kept in ``graph["dst_tables"]``."""
    tables = graph.setdefault("dst_tables", {})
    key = (dst_t, hidden, layers, seed)
    if key not in tables:
        n = graph["nodes"][dst_t].count()
        if n * hidden * 8 > DST_TABLE_MAX_BYTES:
            raise ValueError(
                f"{n} {dst_t} rows x {hidden} doubles exceed the "
                f"{DST_TABLE_MAX_BYTES}-byte driver budget of the serve "
                f"table (pipeline.DST_TABLE_MAX_BYTES)")
        edges = reduce(DataFrame.unionAll,
                       [df for (s, _r, d), df in graph["edges"].items()
                        if s == dst_t and d == dst_t])
        emb = node_embeddings(graph, dst_t, edges,
                              hidden=hidden, layers=layers, seed=seed)
        pdf = emb.select("node_id", *[F.col("emb")[j].alias(f"e{j}")
                                      for j in range(hidden)]).toPandas()
        ids = pdf.pop("node_id").to_numpy()
        mat = np.empty((n, hidden))
        mat[ids] = pdf.to_numpy(np.float64)
        tables[key] = mat
    return tables[key]


def _round6(p: np.ndarray) -> np.ndarray:
    """Spark's ``round(p, 6)`` on doubles: HALF_UP on each value's
    shortest decimal string. ``rint`` of the scaled value picks the same
    integer except within float error of a half; those few values take
    the decimal rounding itself."""
    scaled = p * 1e6
    out = np.rint(scaled) / 1e6
    for i in np.flatnonzero(np.abs(scaled - np.floor(scaled) - 0.5) < 1e-6):
        out[i] = float(Decimal(repr(float(p[i]))).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP))
    return out


def recommend(graph: dict, edge_type: tuple, selected_dst_ids: list[int],
              k: int = 10, hidden: int = 4, layers: int = 2,
              seed: int = 42) -> DataFrame:
    """Stage 3 (inference.py analog): rank the dst nodes for one new src
    node whose neighbors are ``selected_dst_ids``.

    The new node's embedding is the mean of its selected neighbors' dst
    embeddings; every other dst node is scored with the dot decoder,
    ``round(sigmoid(new · emb), 6)``, and the top ``k`` by (prob desc,
    dst asc) are returned as a ``DataFrame(dst bigint, prob double)``.

    The dst embeddings come from a frozen, seeded GNN forward over the
    dst type's own edges (not the model ``train`` fits). The reference's
    graph mutation for the request touches no dst→dst edge, so that
    forward cannot depend on the basket: it runs once per graph and is
    kept in ``graph["dst_tables"]`` (dropped with the graph's cache entry
    and by ``queries.clear_caches()``). Scoring and top-k then run in
    numpy on the driver, and the result frame is built from pandas
    through Arrow (which ``get_spark`` enables), so a warm request
    submits no Spark job. The mean is
    over the distinct selected ids; the dot is a left fold in column
    order, as ``functions.vector.dot`` computes it.

    The table is ``|dst| x hidden`` doubles on the driver; a dst type
    past ``DST_TABLE_MAX_BYTES`` raises ``ValueError`` before the forward
    runs (one count of the cached node frame) instead of failing the
    collect.

    Raises ``ValueError`` for a same-type edge type (the basket would
    then change the dst graph; no edge type of the catalog is one),
    ``layers < 1``, an empty basket, ids that are not ``dst`` nodes
    (checked against the table before any scoring), or a dst table over
    the driver budget.
    """
    src_t, _rel, dst_t = edge_type
    if src_t == dst_t:
        raise ValueError(f"recommend serves cross-type edge types; {edge_type} "
                         f"links {src_t} to itself")
    if layers < 1:
        raise ValueError(f"recommend embeds with at least one GNN layer, "
                         f"not {layers}")
    sel = np.unique(np.asarray(selected_dst_ids, np.int64))
    if not len(sel):
        raise ValueError("recommend needs at least one selected dst id")
    mat = _dst_table(graph, dst_t, hidden, layers, seed)
    unknown = sel[(sel < 0) | (sel >= len(mat))]
    if len(unknown):
        raise ValueError(f"unknown {dst_t} ids: {unknown.tolist()}")

    new_emb = mat[sel].sum(axis=0) / len(sel)
    logit = np.zeros(len(mat))
    for j in range(hidden):
        logit = logit + mat[:, j] * new_emb[j]
    prob = _round6(1.0 / (1.0 + np.exp(-logit)))

    cand = np.ones(len(mat), bool)
    cand[sel] = False
    cand = np.flatnonzero(cand)
    top = cand[np.lexsort((cand, -prob[cand]))[:k]]
    spark = graph["nodes"][dst_t].sparkSession
    return spark.createDataFrame(pd.DataFrame({"dst": top, "prob": prob[top]}),
                                 schema="dst bigint, prob double")
