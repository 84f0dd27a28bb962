"""Physical-plan quality gates — the properties that decide whether these
operators survive a 100x scale-up. A regression here (lost pushdown, a
broadcast that became a shuffle, a topk that became a global sort) is a
performance bug even while results stay correct."""

from __future__ import annotations

import contextlib
import io

from rel_db_to_graph_spark import queries as Q
from tests.conftest import SF_ORACLE


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    p = plan_of(Q.q_filter_like(spark, SF_ORACLE))
    assert "PushedFilters" in p and "GreaterThan(p_size,20)" in p
    # column pruning: untouched columns never reach the scan
    assert "p_retailprice" not in p and "p_brand" not in p


def test_projection_reaches_scan(spark):
    p = plan_of(Q.q_scan_project(spark, SF_ORACLE))
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double>" in p


def test_topk_is_take_ordered_not_global_sort(spark):
    p = plan_of(Q.q_topk_orders(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in p


def test_small_dim_join_broadcasts(spark):
    p = plan_of(Q.q_revenue_by_nation(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in p


def test_agg_is_partial_then_final(spark):
    # map-side partial aggregation: two HashAggregates around the exchange
    p = plan_of(Q.q_pricing_summary(spark, SF_ORACLE))
    assert "partial_sum" in p       # map-side combine before the exchange
    assert p.count("HashAggregate") >= 2 and "Exchange" in p
    assert "LessThanOrEqual(l_shipdate" in p   # date filter reaches the scan


def test_recommend_broadcasts_basket(spark):
    p = plan_of(Q.q_recommend(spark, SF_ORACLE))
    assert "Broadcast" in p


def test_semi_and_anti_joins(spark):
    assert "LeftSemi" in plan_of(Q.q_semi_join(spark, SF_ORACLE))
    assert "LeftAnti" in plan_of(Q.q_anti_join(spark, SF_ORACLE))


def test_ivf_index_probe_is_partition_pruned(spark):
    """The written IVF index is partitioned by cluster and a probe
    query's cluster IN (...) predicate lands in PartitionFilters (a
    directory-pruned read), NOT in the row-level PushedFilters. The
    probe result matches the in-memory ivf_topk on the same data."""
    import tempfile

    from rel_db_to_graph_spark.operators.ivf import (
        ivf_topk, ivf_topk_from_index, write_ivf_index)
    from rel_db_to_graph_spark.sources.catalog import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    with tempfile.TemporaryDirectory() as d:
        write_ivf_index(emb, d, k=8)
        probe = ivf_topk_from_index(spark, d, query_id=0, k=10, nprobe=4)
        p = plan_of(probe)
        seg = p[p.index("PartitionFilters"):]
        seg = seg[:seg.index("\n")]
        assert "cluster" in seg and "PartitionFilters: []" not in seg
        direct = ivf_topk(emb, query_id=0, k=10, n_clusters=8, nprobe=4)
        assert [(r.vec_id, r.score) for r in probe.collect()] == \
               [(r.vec_id, r.score) for r in direct.collect()]


def test_ivf_bucketed_layout_probe_prunes_both_tiers(spark):
    """Round 10: the large-k index layout (partition_buckets — one
    directory per cluster%buckets instead of per cluster, because
    k≈100k Hive directories is a listing/metastore bomb) must keep BOTH
    pruning tiers: the bucket predicate in PartitionFilters (directory
    pruning) and the exact cluster IN (...) in PushedFilters (row-group
    pruning via the per-file cluster sort). Results must equal the
    per-cluster-directory layout's."""
    import tempfile

    from rel_db_to_graph_spark.operators.ivf import (
        ivf_topk_from_index, write_ivf_index)
    from rel_db_to_graph_spark.sources.catalog import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    with tempfile.TemporaryDirectory() as d1, \
            tempfile.TemporaryDirectory() as d2:
        write_ivf_index(emb, d1, k=8)
        write_ivf_index(emb, d2, k=8, partition_buckets=4)
        plain = ivf_topk_from_index(spark, d1, query_id=0, k=10, nprobe=2)
        probe = ivf_topk_from_index(spark, d2, query_id=0, k=10, nprobe=2)
        p = plan_of(probe)
        part = p[p.index("PartitionFilters"):]
        part = part[:part.index("\n")]
        assert "cbucket" in part and "PartitionFilters: []" not in part
        pushed = p[p.index("PushedFilters"):]
        pushed = pushed[:pushed.index("\n")]
        assert "cluster" in pushed     # row-group tier keeps the exact IN
        assert [(r.vec_id, r.score) for r in probe.collect()] == \
               [(r.vec_id, r.score) for r in plain.collect()]


def test_bucketed_join_is_shuffle_free(spark):
    """Co-located join: both sides bucketed+sorted on the key -> the
    SortMergeJoin has NO Exchange under it (and no per-task Sort), and
    results equal the plain shuffle join."""
    from pyspark.sql import functions as F

    from rel_db_to_graph_spark.sources.bucketed import cobucket_pair
    from rel_db_to_graph_spark.sources.catalog import load_table

    orders = load_table(spark, SF_ORACLE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    lineitem = load_table(spark, SF_ORACLE, "lineitem").select(
        "l_orderkey", "l_quantity")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo, bl = cobucket_pair(spark, orders, lineitem,
                               "o_orderkey", "l_orderkey", 8)
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey).select(
            "o_orderkey", "l_quantity")
        p = plan_of(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p               # the point: no shuffle
        assert p.count("Bucketed: true") == 2
        plain = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey).select(
            "o_orderkey", "l_quantity")
        assert joined.count() == plain.count()
        s1 = joined.agg(F.sum("l_quantity").alias("s")).collect()[0].s
        s2 = plain.agg(F.sum("l_quantity").alias("s")).collect()[0].s
        assert s1 == s2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS cobkt_l")
        spark.sql("DROP TABLE IF EXISTS cobkt_r")


def test_tfidf_is_skew_safe_single_corpus_shuffle(spark):
    """Optimization round 13 (r12 verdict item 5): the token stream is
    shuffled ONCE, keyed on doc_id; tf, the df aggregate (via AQE
    exchange reuse) and the rank window all ride that exchange. The
    skew pins: NO term-partitioned window anywhere (the r12 df window
    buffered a hot term's full posting list in one unsplittable
    WindowExec group), and while the vocabulary is under the broadcast
    threshold (it is at this SF) the df re-attach is a BROADCAST join,
    never a shuffled one — so no corpus-sized term-keyed repartition
    exists in the plan at all."""
    import re

    p = plan_of(Q.q_tfidf_keywords(spark, SF_ORACLE))
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "BroadcastHashJoin" in p              # df rides back broadcast
    windows = re.findall(r"^\(\d+\) Window$", p, re.M)
    assert len(windows) == 1                     # the per-doc rank only
    assert "windowspecdefinition(term" not in p  # no term-keyed window
    assert "windowspecdefinition(doc_id" in p
    # column pruning: only doc_id+text reach the documents scan
    assert "lang" not in p.split("ReadSchema")[1][:200]


def test_tfidf_ranking_is_join_strategy_independent(spark):
    """Successor of the r7 broadcast-fallback pin: the df join carries
    no broadcast hint (the vocabulary aggregate has no size bound), so
    disabling auto-broadcast outright (threshold -1, which also turns
    off AQE's runtime conversion) must leave df un-broadcast — the
    executed plan re-attaches it with a shuffled join, and only the
    one-row n_docs is broadcast — and every keyword rank
    byte-identical."""
    expected = sorted(
        tuple(r) for r in Q.q_tfidf_keywords(spark, SF_ORACLE).collect())
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q.q_tfidf_keywords(spark, SF_ORACLE)
        got = sorted(tuple(r) for r in df.collect())
        final = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" not in final      # df is not broadcast
    assert "SortMergeJoin" in final              # the term-keyed fallback
    assert "BroadcastNestedLoopJoin" in final    # n_docs stays broadcast
    assert got == expected


def test_event_queries_prune_to_needed_columns(spark):
    """Event operators must not drag props/value through the shuffle
    when they only need (ts, event_type, user_id)."""
    p = plan_of(Q.q_events_sessionize(spark, SF_ORACLE))
    assert "props" not in p
    p2 = plan_of(Q.q_event_anomalies(spark, SF_ORACLE))
    assert "props" not in p2 and "user_id" not in p2


def test_source_quota_single_shuffle(spark):
    """group_quota = one hash exchange on the group column + a local
    window sort; a second exchange would mean the draw or filter broke
    partition reuse."""
    p = plan_of(Q.q_source_quota(spark, SF_ORACLE))
    assert p.count("Exchange hashpartitioning") <= 1


def test_funnel_ordered_scans_events_once(spark):
    """q_funnel_ordered's four consumers (3 stages + distinct users) must
    read ONE cached events projection, not rescan the parquet — at 100 TB
    an uncached funnel pays 4 full table scans. Every `Scan parquet` in
    the executed plan must sit inside an InMemoryTableScan printout (the
    cached relation's own child); none may execute directly."""
    df = Q.q_funnel_ordered(spark, SF_ORACLE)
    p = df._jdf.queryExecution().executedPlan().toString()
    n_parquet = p.count("Scan parquet")
    n_cached = p.count("InMemoryTableScan")
    assert n_cached > 0, "events projection is no longer persisted"
    assert n_parquet == n_cached, (
        f"{n_parquet - n_cached} direct parquet scan(s) outside the cache")


def test_semantic_dedup_pair_join_is_equi_not_cartesian(spark):
    """The within-cluster compare must hash-partition on cluster id —
    an all-pairs CartesianProduct here is the 100 TB killer."""
    p = plan_of(Q.q_semantic_dedup(spark, SF_ORACLE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pq_scan_is_take_ordered_over_codes(spark):
    """ADC top-k: per-partition heaps, never a global sort; and the
    scored relation carries the CODE column, not the float vectors."""
    p = plan_of(Q.q_ann_pq(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p


def test_quality_score_is_map_only(spark):
    """The trained classifier is plan literals — scoring must be one
    scan with zero exchanges (a free rider on any corpus pass)."""
    p = plan_of(Q.q_quality_lr_score(spark, SF_ORACLE))
    assert "Exchange" not in p


def test_increment_base_offset_is_broadcast_not_collect(spark):
    """The max_id+1 base joins in as a broadcast scalar."""
    p = plan_of(Q.q_dense_ids_increment(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_ivfpq_index_probe_is_partition_pruned(spark):
    """The written IVFPQ index: codes parquet partitioned by coarse
    cluster — a probe's cluster IN (...) lands in PartitionFilters
    (directory pruning), the scanned columns are CODES (no float
    vector column in ReadSchema), and the probe equals the in-memory
    ivfpq_topk for the same query vector."""
    import tempfile

    from rel_db_to_graph_spark.operators.pq import (
        ivfpq_topk, ivfpq_topk_from_index, write_ivfpq_index)
    from rel_db_to_graph_spark.sources.catalog import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0")
          .collect()[0]["embedding"]]
    with tempfile.TemporaryDirectory() as d:
        write_ivfpq_index(emb, d, n_clusters=8, m=4, n_codes=8, iters=2)
        probe = ivfpq_topk_from_index(spark, d, qv, k=11, nprobe=4)
        p = plan_of(probe)
        seg = p[p.index("PartitionFilters"):]
        seg = seg[:seg.index("\n")]
        assert "cluster" in seg and "PartitionFilters: []" not in seg
        assert "embedding" not in p          # floats never scanned
        direct = ivfpq_topk(emb, query_id=0, k=10, n_clusters=8,
                            nprobe=4, m=4, n_codes=8, iters=2)
        got = [(r.vec_id, r.adist) for r in probe.collect()
               if r.vec_id != 0][:10]
        assert got == [(r.vec_id, r.adist) for r in direct.collect()]


def test_pair_grid_routing_joins_are_broadcast(spark):
    """Round 10: the per-cluster/per-bucket grid routing metadata must
    enter the plan as a BROADCAST hash join (one tiny exchange at any
    k), never as a shuffled join — and the pair machinery must stay
    free of cartesian shapes. Covers both adopters of the grid: the
    semantic dedup cluster routing and the embedding near-dup bucket
    routing."""
    for df in (Q.q_semantic_dedup(spark, SF_ORACLE),
               Q.q_embedding_dedup(spark, SF_ORACLE)):
        p = plan_of(df)
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
