"""PageRank over an edge list — the canonical iterative graph-analytics
operator, as a BSP DataFrame loop on operators/bsp.py's edge layout and
superstep driver.

Determinism design (what makes an ITERATIVE FLOAT algorithm
oracle-checkable): every per-iteration contribution is quantized to
DECIMAL(38,12) before the sum, so accumulation is exact and
order-independent — the same ranks to the last digit on any
partitioning, any engine. The DuckDB twin unrolls the fixed iteration
count as stacked CTEs (the IVF-oracle pattern) with the identical
quantized arithmetic.

Per iteration: one equi-join of (node, rank/out_deg) onto edges + one
groupBy(dst) sum — shuffles (vertex, decimal) pairs only; dangling-node
mass is redistributed uniformly (the standard correction) via a 1-row
aggregate that Spark broadcasts. The barrier is paid every
``_CHECKPOINT_EVERY``-th superstep. Driver state: none but the loop
counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rel_db_to_graph_spark.operators import bsp

#: quantized-decimal type for order-independent accumulation
_DEC = "decimal(38,12)"
#: superstep barrier cadence: 2 beat 3 and 5 at sf0.1 (OPTIMIZATION_r13.md,
#: pagerank), as between barriers each superstep reads the rank state twice
_CHECKPOINT_EVERY = 2


def pagerank(edges: DataFrame, n_iter: int = 5, damping: float = 0.85,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """(v, rank) after ``n_iter`` synchronous iterations from a uniform
    start; rank mass sums to ~1. Vertex set = every endpoint. Ranks are
    rounded to 6 places on output (internal arithmetic is exact
    12-place decimal)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    verts = (e.select(F.col("a").alias("v"))
             .unionByName(e.select(F.col("b").alias("v")))
             .distinct())

    out_deg = e.groupBy("a").agg(F.count("*").alias("_deg"))
    # edges annotated with the src out-degree, laid out on the
    # per-iteration join key and reused every iteration
    e_deg = bsp.edge_layout(e.join(out_deg, "a"), "a")

    # optimization round 12 (guide §2.4): the dangling-vertex SET used
    # to be a separate checkpointed anti-join that every iteration
    # semi-joined against ranks to re-aggregate its mass. Instead the
    # static per-vertex dangling FLAG is computed once, rides on the
    # rank state through every superstep (the zero-contribution row —
    # see below — re-attaches it after each aggregation), and the
    # dangling mass is a plain filter+sum over the state. Removes the
    # per-iteration broadcast join, the extra checkpoint, and one
    # whole setup count job (n and |dangling| come from ONE aggregate).
    vstat = (verts.join(out_deg.withColumnRenamed("a", "v"), "v", "left")
             .select("v", F.col("_deg").isNull().alias("_dang"))
             .localCheckpoint(eager=True))
    n = vstat.count()
    if n == 0:
        return vstat.select("v", F.lit(0.0).alias("rank"))

    # All scalar math is DOUBLE with a fixed expression shape (the
    # oracle mirrors it operation-for-operation, so IEEE gives the same
    # bits); only the per-vertex SUMS run in decimal, which is what
    # makes them order/partitioning-independent.
    d = F.lit(float(damping))
    base = F.lit((1.0 - damping) / n)
    ranks = vstat.select(
        "v", F.lit(1.0 / n).cast(_DEC).alias("rank"), "_dang")

    # optimization round 12 (guide §2.4): the per-iteration
    # "verts LEFT JOIN summed" (one extra shuffle + join per superstep)
    # is replaced by unioning a static zero-contribution row per vertex
    # into the aggregation — decimal addition is exact, so summing the
    # extra zeros is bit-identical to the old coalesce(NULL→0) path,
    # every vertex still appears exactly once, and the superstep drops
    # from 3 exchanges to 2 (the zero branch reuses the checkpointed
    # vstat partitioning). The zero rows also carry the dangling flag;
    # contribution rows carry false, and max() re-derives the flag
    # (exactly one zero row per vertex holds the true value).
    zero = vstat.select("v", F.lit(0).cast(_DEC).alias("_c"), "_dang")

    def step(ranks: DataFrame) -> DataFrame:
        contrib = (e_deg.join(ranks.withColumnRenamed("v", "a")
                              .select("a", "rank"), "a")
                   .select(F.col("b").alias("v"),
                           (F.col("rank").cast("double") / F.col("_deg"))
                           .cast(_DEC).alias("_c"),
                           F.lit(False).alias("_dang")))
        summed = (contrib.unionByName(zero)
                  .groupBy("v").agg(F.sum("_c").alias("_in"),
                                    F.max("_dang").alias("_dang")))
        # dangling mass: rank held by vertices with no out-edges,
        # redistributed uniformly (1-row aggregate, broadcast join)
        dangling = (ranks.filter(F.col("_dang"))
                    .agg(F.coalesce(F.sum("rank"), F.lit(0).cast(_DEC))
                         .alias("_dm")))
        new_rank = (base + d * (
            F.coalesce(F.col("_in").cast("double"), F.lit(0.0))
            + F.col("_dm").cast("double") / F.lit(float(n))))
        return (summed.crossJoin(F.broadcast(dangling))
                .select("v", new_rank.cast(_DEC).alias("rank"), "_dang"))

    *_, ranks = bsp.supersteps(ranks, step, n_iter, every=_CHECKPOINT_EVERY)
    return ranks.select("v", F.round(F.col("rank").cast("double"), 6)
                        .alias("rank"))
