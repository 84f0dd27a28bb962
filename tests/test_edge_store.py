"""The fused multi-batch samplers and their edge sources (VERDICT r5
item 3): probing the trainer's own edge frames or a dst-bucketed+sorted
edge table must (a) draw, per batch tag, BIT-IDENTICAL edges to the
direct one-batch samplers, (b) produce a bucket- and row-group-pruned
scan plan against a table, and (c) leave the sampled trainers'
histories unchanged when the table source is switched on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rel_db_to_graph_spark.operators.sampling import (
    _PROBE_IN_MAX,
    sample_incoming,
    sample_incoming_hetero,
    sample_incoming_hetero_store_multi,
    sample_incoming_store_multi,
)
from rel_db_to_graph_spark.sources.bucketed import (
    write_edge_store,
    write_edge_table,
)
from tests.conftest import SF_SMOKE


def _edges(spark, n=500, deg=6):
    """Deterministic multigraph-free edge set: node i ← {i*k mod n}."""
    base = spark.range(n).select(F.col("id").alias("dst"))
    parts = [
        base.select(((F.col("dst") * k + 13 * k) % n).alias("src"), "dst")
        for k in range(1, deg + 1)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _ids_frame(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "node_id bigint")


def _assert_tags_match(multi, fronts, direct):
    """Every tag of a fused sampler result equals ``direct(tag)``, the
    one-batch reference sample (an empty set for an empty frontier)."""
    assert set(multi) == set(fronts)
    for tag in fronts:
        got = {tuple(r) for r in multi[tag].collect()}
        assert got == (direct(tag) if fronts[tag] else set()), f"tag {tag}"


@pytest.fixture(scope="module", params=["frame", "table"])
def homo_edges(request, spark):
    """(edge frame, the fused sampler's source for it): the frame
    itself, or its dst-bucketed table. Wider than _PROBE_IN_MAX."""
    edges = _edges(spark, n=_PROBE_IN_MAX + 200).localCheckpoint(eager=True)
    if request.param == "frame":
        return edges, edges
    write_edge_table(edges, "t_edge_store_multi", num_buckets=8)
    return edges, spark.table("t_edge_store_multi")


@pytest.fixture(scope="module", params=["frame", "table"])
def hetero_edges(request, spark):
    """Hetero twin of ``homo_edges``: (graph edges dict, its source)."""
    n = _PROBE_IN_MAX + 100
    e1 = _edges(spark, n=n, deg=4).localCheckpoint(eager=True)
    e2 = (_edges(spark, n=n, deg=3)
          .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
          .localCheckpoint(eager=True))
    graph = {("a", "r1", "b"): e1, ("b", "r2", "a"): e2}
    if request.param == "frame":
        return graph, graph
    tables = write_edge_store(graph, num_buckets=8, prefix="t_es_multi")
    return graph, {et: spark.table(t) for et, t in tables.items()}


@pytest.mark.parametrize("draw", ["xxhash64", "md5"])
def test_fused_sampler_matches_direct_homogeneous(spark, homo_edges, draw):
    """The fused multi-batch sampler (one probe + one window shuffle per
    hop for ALL batches — VERDICT r8 item 7's scheduling-floor fix) must
    draw, for every tag, exactly the edges of a one-batch
    ``sample_incoming`` call with that tag's seed — from the trainer's
    own frame or from a dst-bucketed table, for a tag with an empty
    frontier, and for a frontier past _PROBE_IN_MAX (the broadcast-join
    probe)."""
    edges, src = homo_edges
    seeds = {0: 101, 1: 202, 2: 303, 3: 404}

    def direct(fronts):
        return lambda tag: {tuple(r) for r in sample_incoming(
            edges, _ids_frame(spark, fronts[tag]), [3, 2],
            seed=seeds[tag], draw=draw).collect()}

    small = {0: [7, 44, 81, 155], 1: [3, 81, 200, 301, 499], 2: []}
    multi = sample_incoming_store_multi(spark, src, small, [3, 2], seeds,
                                        draw=draw)
    _assert_tags_match(multi, small, direct(small))
    assert len({tuple(r) for r in multi[0].collect()}) > 4
    wide = {3: list(range(_PROBE_IN_MAX + 1))}
    multi = sample_incoming_store_multi(spark, src, wide, [3, 2], seeds,
                                        draw=draw)
    _assert_tags_match(multi, wide, direct(wide))


@pytest.mark.parametrize("draw", ["xxhash64", "md5"])
def test_fused_sampler_matches_direct_hetero(spark, hetero_edges, draw):
    """Hetero twin: every tag equals a one-batch
    ``sample_incoming_hetero`` call with that tag's seed, from frames or
    an edge store, including an empty tag and a frontier past
    _PROBE_IN_MAX; a nonempty frontier no edge type reaches raises the
    direct sampler's ValueError."""
    graph, src = hetero_edges
    seeds = {0: 11, 1: 12, 2: 13, 3: 14}

    def direct(fronts):
        return lambda tag: {tuple(r) for r in sample_incoming_hetero(
            graph, {t: _ids_frame(spark, ids)
                    for t, ids in fronts[tag].items()},
            [3, 2], seed=seeds[tag], draw=draw).collect()}

    small = {0: {"b": [8, 39, 101]}, 1: {"b": [39, 250], "a": [17, 60]},
             2: {}}
    multi = sample_incoming_hetero_store_multi(spark, src, small, [3, 2],
                                               seeds, draw=draw)
    _assert_tags_match(multi, small, direct(small))
    assert all(len({tuple(r) for r in multi[t].collect()}) > 4
               for t in (0, 1))
    wide = {3: {"a": list(range(_PROBE_IN_MAX + 1))}}
    multi = sample_incoming_hetero_store_multi(spark, src, wide, [3, 2],
                                               seeds, draw=draw)
    _assert_tags_match(multi, wide, direct(wide))
    with pytest.raises(ValueError, match="no edge type matched"):
        sample_incoming_hetero_store_multi(spark, src, {0: {"c": [1]}},
                                           [3, 2], seeds, draw=draw)
    with pytest.raises(ValueError, match="no edge type matched"):
        sample_incoming_hetero(graph, {"c": _ids_frame(spark, [1])},
                               [3, 2], seed=seeds[0], draw=draw)


def test_store_probe_plan_is_bucket_pruned(spark):
    """The probe's FileScan must carry the pushed In(dst, ...) filter
    AND select a strict subset of buckets — the property that makes the
    per-batch cost ~|frontier| instead of |E| at 100 TB."""
    from rel_db_to_graph_spark.operators.sampling import (
        _forced_bucketed_scan,
        _probe_incoming,
    )

    edges = _edges(spark, n=2000, deg=6)
    write_edge_table(edges, "t_edge_store_plan", num_buckets=16)
    with _forced_bucketed_scan(spark):
        probe = _probe_incoming(spark.table("t_edge_store_plan"),
                                [5, 77, 123])
        plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "In(dst" in plan, plan
    assert "SelectedBucketsCount" in plan, plan
    sel = plan.split("SelectedBucketsCount: ")[1]
    k, n = int(sel.split(" out of ")[0]), int(
        sel.split(" out of ")[1].split(")")[0].split("\n")[0].strip())
    assert k < n, f"no buckets pruned: {k}/{n}"
    assert "Exchange" not in plan
    # ADVICE r6: the probe's planner override must not leak into the
    # shared session after the store path returns
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    assert spark.conf.get(key) != "false"


def test_sampled_hetero_trainer_history_unchanged_with_store(spark):
    """Switching the hetero sampled trainer to the bucket store must not
    change a single training statistic (the bit-identical sampling
    guarantee composed through AdamW)."""
    from rel_db_to_graph_spark.ml.gat_train import train_hetero_gat_sampled
    from rel_db_to_graph_spark.ml.hetero import node_features_normalized
    from rel_db_to_graph_spark.operators.graph_build import build_graph
    from rel_db_to_graph_spark.operators.sampling import negative_sample

    g = build_graph(spark, SF_SMOKE)
    pos = g["edges"][("orders", "hasCust", "customer")]
    labeled = negative_sample(
        pos, g["nodes"]["customer"].select("node_id"), ratio=1, seed=42
    ).localCheckpoint(eager=True)
    feats_raw = node_features_normalized(
        {t: g["nodes"][t] for t in ("orders", "customer")})
    feats = {t: feats_raw[t][0] for t in feats_raw}
    sub_edges = {et: df.select("src", "dst")
                 for et, df in g["edges"].items()
                 if et[0] in feats and et[2] in feats}
    kw = dict(src_type="orders", dst_type="customer", hidden=2,
              fanouts=[3], batch_size=256, max_batches=1, epochs=1,
              lr=0.05, seed=42)
    direct = train_hetero_gat_sampled(sub_edges, feats, labeled, **kw)
    tables = write_edge_store(sub_edges, num_buckets=8,
                              prefix="t_es_train")
    stored = train_hetero_gat_sampled(sub_edges, feats, labeled,
                                      edge_tables=tables, **kw)
    assert direct.history == stored.history
    # sampled EDGES are bit-identical (tests above); the weights may
    # drift in the last ulp because the store path partitions the
    # sampled frame differently and float gradient sums are
    # order-sensitive — anything beyond an ulp is a real bug.
    import math
    for a, b in zip(direct.weights, stored.weights):
        assert math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
