"""Property tests for graph invariants and the seeded/sampled operators
(the ops the DuckDB oracle can only rows-only check) — mirrors SURVEY.md §5."""

from __future__ import annotations

from pyspark.sql import functions as F

from rel_db_to_graph_spark import queries as Q
from rel_db_to_graph_spark.operators import graph_build as gb
from rel_db_to_graph_spark.operators.graph_build import (
    build_graph,
    dense_ids,
    dense_ids_scalable,
)
from rel_db_to_graph_spark.operators.sampling import negative_sample, sample_subgraph
from rel_db_to_graph_spark.operators.split import random_link_split
from rel_db_to_graph_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def test_graph_invariants(spark):
    g = build_graph(spark, SF_SMOKE)
    nodes, edges = g["nodes"], g["edges"]

    node_counts = {t: df.count() for t, df in nodes.items()}

    for (s, r, d), df in edges.items():
        if r.startswith("REVERSE_"):
            fwd = edges[(d, r.removeprefix("REVERSE_"), s)]
            assert df.count() == fwd.count(), (s, r, d)
            # reverse edges are exactly the swapped forward pairs
            swapped = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            assert df.exceptAll(swapped).count() == 0
        elif r == "SELF_LOOP":
            assert s == d
            assert df.count() == node_counts[s]
            assert df.filter(F.col("src") != F.col("dst")).count() == 0

    # Σ degree per node type == incident forward-edge endpoints + N (the +1)
    for t, ndf in nodes.items():
        incident = 0
        for (s, r, d), edf in edges.items():
            if r.startswith("REVERSE_") or r == "SELF_LOOP":
                continue
            if s == t:
                incident += edf.count()
            if d == t and s != t:
                incident += edf.count()
        total_deg = ndf.agg(F.sum("degree")).collect()[0][0]
        assert total_deg == incident + node_counts[t], t

    # dense ids are 0..N-1
    for t, ndf in nodes.items():
        stats = ndf.agg(F.min("node_id"), F.max("node_id"),
                        F.countDistinct("node_id")).collect()[0]
        assert stats[0] == 0 and stats[1] == node_counts[t] - 1
        assert stats[2] == node_counts[t]


def test_dense_ids_scalable_matches_density(spark):
    c = load_table(spark, SF_SMOKE, "customer")
    ids = dense_ids_scalable(c, "c_custkey", num_buckets=7)
    n = c.select("c_custkey").distinct().count()
    stats = ids.agg(F.min("node_id"), F.max("node_id"),
                    F.countDistinct("node_id"), F.countDistinct("pk")).collect()[0]
    assert stats[0] == 0 and stats[1] == n - 1
    assert stats[2] == n and stats[3] == n
    # deterministic across invocations (content-addressed bucketing)
    again = dense_ids_scalable(c, "c_custkey", num_buckets=7)
    assert ids.exceptAll(again).count() == 0
    # the SQL collapse: id == rank of (md5-bucket, pk) in total order
    import hashlib
    rows = ids.collect()
    def key(pk):
        b = int(hashlib.md5(str(pk).encode()).hexdigest()[:4], 16) % 7
        return (b, pk)
    expect = {pk: i for i, pk in
              enumerate(sorted((r.pk for r in rows), key=key))}
    assert all(expect[r.pk] == r.node_id for r in rows)


def test_build_graph_ids_match_dense_ids_scalable(spark):
    """build_graph's batched-offsets id path must produce EXACTLY the
    ids of the standalone (oracle-pinned) dense_ids_scalable."""
    from rel_db_to_graph_spark.operators.graph_build import build_graph

    g = build_graph(spark, SF_SMOKE)   # default: scalable ids
    got = {(r.pk, r.node_id)
           for r in g["nodes"]["customer"].select("pk", "node_id").collect()}
    want = {(r.pk, r.node_id)
            for r in dense_ids_scalable(
                load_table(spark, SF_SMOKE, "customer"),
                "c_custkey").collect()}
    assert got == want


def _fk_edges(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    from rel_db_to_graph_spark.operators.graph_build import edge_pairs, edges_dense
    pairs = edge_pairs(spark, SF_SMOKE, "orders", "o_orderkey", "o_custkey")
    return edges_dense(pairs, dense_ids(o, "o_orderkey"),
                       dense_ids(c, "c_custkey"))


def test_link_split_partition(spark):
    e = _fk_edges(spark).cache()
    splits = random_link_split(e, val_frac=0.15, test_frac=0.0, seed=42)
    n = e.count()
    n_train, n_val, n_test = (splits[k].count() for k in ("train", "val", "test"))
    assert n_train + n_val + n_test == n          # exhaustive
    assert splits["train"].intersect(splits["val"]).count() == 0   # disjoint
    assert abs(n_val / n - 0.15) < 0.03           # ≈ requested fraction
    # deterministic
    again = random_link_split(e, val_frac=0.15, test_frac=0.0, seed=42)
    assert splits["val"].exceptAll(again["val"]).count() == 0


def test_neighbor_sample_fanout_bound(spark):
    e = _fk_edges(spark)
    seeds = e.select("src").distinct().limit(20)
    sampled = sample_subgraph(e, seeds, fanouts=[3, 2], seed=7).cache()
    per_src = (sampled.filter(F.col("hop") == 0)
               .groupBy("src").count().agg(F.max("count")).collect()[0][0])
    assert per_src <= 3
    # sampled edges are real edges (distinct: hops may resample an edge)
    assert (sampled.select("src", "dst").distinct()
            .exceptAll(e.select("src", "dst").distinct()).count() == 0)


def test_hetero_neighbor_sample_properties(spark):
    """Per-edge-type fanout bound, cross-type frontier correctness,
    edges are real, eval mode (-1) = full neighborhood, determinism."""
    from rel_db_to_graph_spark.operators.sampling import sample_hetero_subgraph

    g = build_graph(spark, SF_SMOKE)
    seeds = {"customer":
             g["nodes"]["customer"].select("node_id").orderBy("node_id").limit(5)}
    sub = sample_hetero_subgraph(g, seeds, fanouts=[2, 3], seed=7).cache()

    # fanout bound holds per (edge type, hop, src node)
    worst = (sub.groupBy("src_table", "relation", "dst_table", "hop", "src")
             .count()
             .groupBy("hop").agg(F.max("count").alias("mx")).collect())
    bounds = {0: 2, 1: 3}
    assert all(r.mx <= bounds[r.hop] for r in worst)

    # hop-0 sources are seeds; hop-1 sources of type t are hop-0 dsts of t
    hop0_src = {r.src for r in
                sub.filter((F.col("hop") == 0)).select("src").collect()}
    assert hop0_src <= {r.node_id for r in seeds["customer"].collect()}
    for t in ("customer", "orders", "nation"):
        hop0_dst = {r.dst for r in sub.filter(
            (F.col("hop") == 0) & (F.col("dst_table") == t)).select("dst").collect()}
        hop1_src = {r.src for r in sub.filter(
            (F.col("hop") == 1) & (F.col("src_table") == t)).select("src").collect()}
        assert hop1_src <= hop0_dst, t

    # every sampled edge exists in its edge type's frame
    for (s, rel, d), edf in g["edges"].items():
        mine = sub.filter((F.col("src_table") == s) & (F.col("relation") == rel)
                          & (F.col("dst_table") == d)).select("src", "dst").distinct()
        assert mine.exceptAll(edf.select("src", "dst").distinct()).count() == 0

    # determinism: content-addressed draws
    again = sample_hetero_subgraph(g, seeds, fanouts=[2, 3], seed=7)
    assert sub.exceptAll(again).count() == 0 and again.exceptAll(sub).count() == 0

    # eval mode: fanout -1 keeps the full 1-hop neighborhood of the seeds
    full = sample_hetero_subgraph(g, seeds, fanouts=[-1], seed=7)
    expect = 0
    seed_ids = {r.node_id for r in seeds["customer"].collect()}
    for (s, rel, d), edf in g["edges"].items():
        if s == "customer":
            expect += edf.filter(F.col("src").isin(seed_ids)).count()
    assert full.count() == expect


def test_negative_sample_properties(spark):
    e = _fk_edges(spark).cache()
    c = load_table(spark, SF_SMOKE, "customer")
    out = negative_sample(e, dense_ids(c, "c_custkey"), ratio=1, seed=42).cache()
    pos = out.filter(F.col("label") == 1)
    neg = out.filter(F.col("label") == 0)
    assert pos.count() == e.count()
    # no negative collides with a positive edge
    assert neg.join(e, ["src", "dst"], "inner").count() == 0
    # negatives stay inside the node-id domain
    n = c.count()
    assert neg.filter((F.col("dst") < 0) | (F.col("dst") >= n)).count() == 0


def test_graph_cache_eviction_unpersists(spark):
    """Same-app cache entries beyond the cap are evicted AND their
    persisted frames are freed (VERDICT r4 nit: eviction used to leak
    persisted RDDs in long-lived multi-sf processes)."""
    Q.clear_caches()
    g1 = build_graph(spark, SF_SMOKE)
    first_frames = (list(g1["nodes"].values()) + list(g1["edges"].values()))
    assert any(df.storageLevel.useMemory for df in first_frames)
    build_graph(spark, SF_SMOKE,
                edge_attrs={("orders", "hasPart", "part"): ["l_quantity"]})
    build_graph(spark, "/root/testdata/sf0.01")
    assert len(gb._GRAPH_CACHE) == gb._GRAPH_CACHE_MAX_PER_APP
    key1 = (spark.sparkContext.applicationId, SF_SMOKE, None)
    assert key1 not in gb._GRAPH_CACHE
    assert not any(df.storageLevel.useMemory or df.storageLevel.useDisk
                   for df in first_frames), "evicted frames still persisted"


def test_persisted_graph_frames_are_right_sized(spark):
    """AQE coalesces cached plans (session.py), so a persisted node or
    edge frame is sized from its shuffle bytes, not from
    spark.sql.shuffle.partitions. A Spark upgrade or config drift that
    brings back full-width caches (one task per near-empty partition on
    every later read) fails here instead of silently costing time."""
    Q.clear_caches()
    g = build_graph(spark, SF_SMOKE)
    # a SELF_LOOP frame is a projection of its persisted node frame, so
    # it has the node cache's partitions
    node = g["edges"][("orders", "SELF_LOOP", "orders")]
    edge = g["edges"][("orders", "hasPart", "part")]
    assert edge.is_cached
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for df in (node, edge):
        df.count()
        assert df.rdd.getNumPartitions() < width


def test_clear_caches_empties_graph_and_copurchase(spark):
    from rel_db_to_graph_spark.pipeline import convert

    g = convert(spark, SF_SMOKE)
    Q._copurchase_base(spark, SF_SMOKE)
    assert gb._GRAPH_CACHE and Q._COPURCHASE_CACHE
    persisted = [df for df in g["edges"].values() if df.is_cached]
    assert persisted

    Q.clear_caches()
    assert gb._GRAPH_CACHE == {} and Q._COPURCHASE_CACHE == {}
    assert not any(df.storageLevel.useMemory or df.storageLevel.useDisk
                   for df in persisted), "cleared frames still persisted"
    assert convert(spark, SF_SMOKE) is not g  # a cache miss rebuilds
