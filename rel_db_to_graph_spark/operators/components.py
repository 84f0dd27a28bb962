"""Connected components over an edge list — the clustering step that
turns near-duplicate PAIRS into duplicate GROUPS.

A dedup pipeline that stops at pairs can't answer "which one document do
I keep?": transitive near-dups (a~b, b~c, a!~c) must land in ONE cluster
with one canonical survivor. The reference has no analog (its corpus is
relational rows, not corpora); this is a north-star LLM-pipeline
operator, same family as dedup.py.

Algorithm: iterative min-label propagation with pointer-jumping.

  * state     — ``labels(v, comp)``, comp initialised to v.
  * round     — (1) neighbour min: comp(v) <- min(comp(v), min over
    neighbours comp(u)); (2) pointer jump: comp(v) <- comp(comp(v)).
    Step 2 is the log-trick: labels chase the chain two hops per round,
    so rounds = O(log diameter), not O(diameter) — a 1M-long chain of
    near-identical docs converges in ~20 rounds, not 1M.
  * converged — when no label changed (exact, not heuristic: the
    fixpoint comp(v) = min id in v's component is unique, so the result
    is deterministic regardless of partitioning or join order).

Scale shape (the point): each round is two equi-joins + one groupBy,
all shuffling (vertex, comp) pairs — never documents, never shingles.
State per round is bounded by |V| + |E|. The edge layout, the
per-round barrier and the convergence test are operators/bsp.py's
(``edge_layout`` + ``fixpoint``). Driver state is one scalar per round
— no data-sized collect.

The DuckDB oracle is a recursive-CTE transitive closure with
``min(reachable)`` per vertex — exponentially slower than this
implementation on big graphs, but exact at test SF, which is what an
oracle is for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from rel_db_to_graph_spark.operators import bsp

_INTEGRAL_TYPES = (ByteType, ShortType, IntegerType, LongType)


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 50) -> DataFrame:
    """(v, comp) for every vertex incident to ``edges``; comp = min
    vertex id in the component (the canonical, partitioning-independent
    labelling).

    Vertices with no edges don't appear — callers wanting singleton
    clusters union them in with comp = v (duplicate_clusters does not:
    a doc with no near-dup pair IS its own keeper by default).

    Vertex ids may be any orderable type. INTEGRAL ids (the common
    case) get a cheaper convergence test (see ``measure`` below); the
    result is identical either way.
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a") != F.col("b")))
    # symmetrized once so each round is a single directed join on "b"
    sym = bsp.edge_layout(e, "b", symmetric=True, dedupe=True)
    labels = (sym.select(F.col("a").alias("v")).distinct()
              .select("v", F.col("v").alias("comp"))
              .localCheckpoint(eager=True))

    def step(labels: DataFrame) -> DataFrame:
        # (1) neighbour min
        nbr = (sym.join(labels.withColumnRenamed("v", "b"), "b")
               .select(F.col("a").alias("v"), "comp"))
        cand = (labels.unionByName(nbr)
                .groupBy("v").agg(F.min("comp").alias("comp")))
        # (2) pointer jump: comp values are always vertex ids (mins of
        # vertex ids), so the self-join is total; left+coalesce is belt
        # and braces for the round where cand is mid-update
        return (cand.join(cand.select(F.col("v").alias("comp"),
                                      F.col("comp").alias("_c2")),
                          "comp", "left")
                .select("v", F.coalesce("_c2", "comp").alias("comp")))

    # Labels only ever DECREASE, so for integral ids "no label changed"
    # equals "exact decimal sum of labels unchanged" (one aggregate per
    # round). The cast is only lossless for integral ids: a string id
    # casts to NULL, so those take bsp.fixpoint's exact fallback.
    integral = isinstance(labels.schema["comp"].dataType, _INTEGRAL_TYPES)
    measure = (F.sum(F.col("comp").cast("decimal(38,0)")) if integral
               else None)
    return bsp.fixpoint(labels, step, max_iter, measure,
                        "connected_components")


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b") -> DataFrame:
    """(doc_id, cluster_id, n_members, keep) for every doc in ≥1 pair.

    cluster_id = min doc_id of the component; keep = this doc is the
    canonical survivor (exactly one per cluster). The window count
    shuffles (doc_id, cluster_id) rows only.
    """
    cc = connected_components(pairs, src=id_a, dst=id_b)
    w = Window.partitionBy("cluster_id")
    return (cc.select(F.col("v").alias("doc_id"),
                      F.col("comp").alias("cluster_id"))
            .withColumn("n_members", F.count("*").over(w))
            .withColumn("keep", F.col("doc_id") == F.col("cluster_id")))
