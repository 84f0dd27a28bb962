"""PageRank — mass conservation, known-graph values, partition
invariance."""

from __future__ import annotations

from rel_db_to_graph_spark.operators import bsp
from rel_db_to_graph_spark.operators.pagerank import pagerank


def test_mass_conserved_and_sane(spark):
    # star: everyone points at hub 0
    edges = [(i, 0) for i in range(1, 20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r.v: r.rank for r in pagerank(df, n_iter=10).collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-4       # total mass ~1
    assert rows[0] == max(rows.values())              # hub dominates
    spokes = [rows[i] for i in range(1, 20)]
    assert max(spokes) - min(spokes) < 1e-9           # symmetric spokes


def test_two_node_cycle_symmetric(spark):
    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    rows = {r.v: r.rank for r in pagerank(df, n_iter=20).collect()}
    assert abs(rows[1] - 0.5) < 1e-6 and abs(rows[2] - 0.5) < 1e-6


def test_partition_invariance(spark):
    edges = [(i, (i * 7) % 50) for i in range(200)]
    d1 = spark.createDataFrame(edges, "src long, dst long").coalesce(1)
    d2 = spark.createDataFrame(edges, "src long, dst long").repartition(16)
    r1 = sorted(map(tuple, pagerank(d1, n_iter=5).collect()))
    r2 = sorted(map(tuple, pagerank(d2, n_iter=5).collect()))
    assert r1 == r2            # exact equality — decimal-quantized sums


def test_empty_graph(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df).count() == 0


def test_checkpoint_interval_does_not_change_results(spark, monkeypatch):
    edges = [(i, (i * 3) % 30) for i in range(100)]
    df = spark.createDataFrame(edges, "src long, dst long")
    supersteps = bsp.supersteps

    def ranks(every):
        monkeypatch.setattr(
            bsp, "supersteps",
            lambda state, step, n, **_: supersteps(state, step, n,
                                                   every=every))
        return sorted(map(tuple, pagerank(df, n_iter=4).collect()))

    assert ranks(1) == ranks(3)


def test_edge_frame_is_co_partitioned(spark, monkeypatch):
    """pagerank's per-iteration edge frame keeps the layout's explicit,
    data-sized partition count; a join-keyed checkpoint is coalesced by
    AQE to one partition instead."""
    laid = []
    edge_layout = bsp.edge_layout

    def spy(*a, **kw):
        laid.append(edge_layout(*a, **kw))
        return laid[-1]

    monkeypatch.setattr(bsp, "edge_layout", spy)
    edges = [(i, (i * 7) % 50) for i in range(200)]
    pagerank(spark.createDataFrame(edges, "src long, dst long"),
             n_iter=2).collect()
    (e_deg,) = laid
    assert e_deg.columns == ["a", "b", "_deg"]
    assert (e_deg.rdd.getNumPartitions()
            >= spark.sparkContext.defaultParallelism > 1)
