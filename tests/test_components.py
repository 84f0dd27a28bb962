"""connected_components / duplicate_clusters — pinned against a python
union-find twin on deterministic pseudo-random graphs, plus shape and
partition-invariance checks."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from rel_db_to_graph_spark.operators.components import (
    connected_components,
    duplicate_clusters,
)


def _union_find(n_edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in n_edges:
        union(a, b)
    # canonical min-label per vertex
    return {v: find(v) for v in parent}


def _pseudo_edges(seed: str, n_vertices: int, n_edges: int):
    """Deterministic content-addressed edge list (no RNG state)."""
    out = []
    for i in range(n_edges):
        h = hashlib.md5(f"{seed}|{i}".encode()).hexdigest()
        a = int(h[:8], 16) % n_vertices
        b = int(h[8:16], 16) % n_vertices
        out.append((a, b))
    return out


@pytest.mark.parametrize("seed,nv,ne", [
    ("sparse", 60, 25),       # mostly singletons + small comps
    ("dense", 30, 80),        # one giant component likely
    ("chain", 2, 1),          # minimal
])
def test_components_match_union_find(spark, seed, nv, ne):
    edges = _pseudo_edges(seed, nv, ne)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.v, r.comp) for r in connected_components(df).collect()}
    want_map = _union_find(edges)
    # union-find includes self-loop-only vertices; CC drops a==b edges,
    # so restrict the expectation to vertices with a real neighbour
    real = {v for a, b in edges if a != b for v in (a, b)}
    want = {(v, c) for v, c in want_map.items() if v in real}
    assert got == want


def test_long_chain_converges_in_log_rounds(spark):
    # a 200-vertex path has diameter 199; pointer jumping must close it
    # well inside 12 rounds (2^12 >> 199) — max_iter enforces that
    edges = [(i, i + 1) for i in range(199)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, max_iter=12).collect()
    assert len(out) == 200
    assert {r.comp for r in out} == {0}


def test_exhausted_max_iter_raises(spark):
    """Too few rounds for the chain: the loop must refuse to return the
    unconverged labels."""
    edges = [(i, i + 1) for i in range(199)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="connected_components"):
        connected_components(df, max_iter=2)


def test_components_partition_invariance(spark):
    edges = _pseudo_edges("parts", 40, 30)
    df1 = spark.createDataFrame(edges, "src long, dst long").coalesce(1)
    df2 = spark.createDataFrame(edges, "src long, dst long").repartition(16)
    r1 = sorted((r.v, r.comp) for r in connected_components(df1).collect())
    r2 = sorted((r.v, r.comp) for r in connected_components(df2).collect())
    assert r1 == r2


def test_duplicate_clusters_shape(spark):
    # two components: {1,2,3} (transitive via pairs) and {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in duplicate_clusters(pairs).collect()}
    assert rows[1].cluster_id == 1 and rows[3].cluster_id == 1
    assert rows[1].n_members == 3
    assert rows[10].cluster_id == 10 and rows[11].n_members == 2
    keepers = [d for d, r in rows.items() if r.keep]
    assert sorted(keepers) == [1, 10]     # exactly one per cluster


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_components_string_ids_exact(spark):
    """Non-integral vertex ids must NOT take the decimal-sum convergence
    shortcut (r12 ADVICE: cast-to-decimal of a string id is NULL, so
    None == None would declare convergence after round one). The
    operator's generic-id contract: string doc ids converge to the same
    clusters the integer twin finds."""
    int_edges = _pseudo_edges("strids", 40, 30)
    edges = [(f"doc-{a:04d}", f"doc-{b:04d}") for a, b in int_edges]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r.v, r.comp) for r in connected_components(df).collect()}
    want_map = _union_find(int_edges)
    real = {v for a, b in int_edges if a != b for v in (a, b)}
    # min over the zero-padded string ids == min over the ints
    want = {(f"doc-{v:04d}", f"doc-{c:04d}")
            for v, c in want_map.items() if v in real}
    assert got == want


def test_components_edge_partitioning_is_data_sized(spark):
    """The frozen (checkpointed) edge layout must grow with the measured
    edge count once it outgrows the core floor — a core-count constant
    leaves |E|/cores-sized partitions that AQE can never split at scale
    (r12 verdict item 4). Pin the sizing arithmetic at a tiny target so
    the re-layout branch actually runs."""
    import rel_db_to_graph_spark.operators.bsp as C

    edges = [(i, i + 1) for i in range(500)]
    df = spark.createDataFrame(edges, "src long, dst long")
    old = C._TARGET_PART_BYTES
    C._TARGET_PART_BYTES = 512          # ~21 rows per partition
    try:
        out = sorted((r.v, r.comp) for r in
                     connected_components(df).collect())
    finally:
        C._TARGET_PART_BYTES = old
    # correctness unaffected by the re-layout
    assert out == [(i, 0) for i in range(501)]


def test_checkpointed_bytes_reads_the_block_manager(spark):
    """Pins the private-API reach-through behind the partition sizing
    (``_jdf.queryExecution().analyzed().rdd()`` + the storage registry):
    a Spark upgrade that breaks it would make _checkpointed_bytes return
    None, and connected components would then silently pay an extra
    count job per run instead of failing here."""
    from rel_db_to_graph_spark.operators.bsp import (
        _checkpointed_bytes,
    )

    df = spark.range(1000).localCheckpoint(eager=True)
    got = _checkpointed_bytes(df)
    assert isinstance(got, int) and got > 0, got


def test_layout_count_fallback_matches_block_manager(spark, monkeypatch):
    """When the block-manager accessor breaks, ``_checkpointed_bytes``
    returns None and the layout sizes itself from an exact row count
    instead: same partition count, same components."""
    from rel_db_to_graph_spark.operators import bsp

    df = spark.createDataFrame(_pseudo_edges("fallback", 80, 120),
                               "src long, dst long")
    e = df.select(F.col("src").alias("a"), F.col("dst").alias("b"))

    def layout():
        return bsp.edge_layout(e, "b", symmetric=True, dedupe=True)

    n_parts = layout().rdd.getNumPartitions()
    want = sorted(map(tuple, connected_components(df).collect()))
    monkeypatch.setattr(bsp, "_checkpointed_bytes", lambda frame: None)
    assert layout().rdd.getNumPartitions() == n_parts
    assert sorted(map(tuple, connected_components(df).collect())) == want


def test_decontaminate_planted_overlap(spark):
    from rel_db_to_graph_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(10, "headline the quick brown fox jumps right now"),  # 5-gram hit
         (11, "completely unrelated text with no shared phrases at all"),
         (12, "quick brown fox jumps over and over again")],     # hit
        "doc_id long, text string")
    out = {r.doc_id: r.n_overlapping_grams
           for r in decontaminate(train, bench, n=5).collect()}
    assert 10 in out and 12 in out and 11 not in out
    # doc 10 shares exactly one distinct 5-gram window
    assert out[10] == 1
