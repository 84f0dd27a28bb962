"""End-to-end integration: convert → train → recommend over the real
star-schema testdata — the reference's three entry points composed."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from rel_db_to_graph_spark.functions.vector import dot, sigmoid, to_double
from rel_db_to_graph_spark.operators.dedup import doc_signatures, lsh_candidate_pairs
from rel_db_to_graph_spark.pipeline import convert, node_embeddings, recommend, train
from rel_db_to_graph_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE

EDGE = ("orders", "hasPart", "part")


def test_convert_train_recommend(spark):
    graph = convert(spark, SF_SMOKE)

    import math

    result = train(graph, EDGE, epochs=3)
    assert len(result.history) == 3
    # finite, sane losses every epoch (learning quality is covered by
    # test_train's separable-rule case; these features are weak signals)
    assert all(math.isfinite(h["train_loss"]) and 0 < h["train_loss"] < 2
               for h in result.history)
    assert result.best_epoch >= 0

    recs = recommend(graph, EDGE, selected_dst_ids=[0, 1, 2], k=5)
    rows = recs.collect()
    assert len(rows) == 5
    assert all(0.0 <= r.prob <= 1.0 for r in rows)
    # selected items never recommended back
    assert not {r.dst for r in rows} & {0, 1, 2}
    # deterministic
    again = recommend(graph, EDGE, selected_dst_ids=[0, 1, 2], k=5).collect()
    assert [(r.dst, r.prob) for r in rows] == [(r.dst, r.prob) for r in again]


def _recommend_twin(graph, basket, k, hidden=4, layers=2, seed=42):
    """The Spark expression ``recommend`` ran per request before it
    served from the per-graph table: a forward over part's own edges,
    the avg over the selected rows, round(sigmoid(dot)) over the
    candidates join, then orderBy(prob desc, dst).limit(k)."""
    edges = graph["edges"][("part", "SELF_LOOP", "part")]
    emb = node_embeddings(graph, "part", edges, hidden=hidden,
                          layers=layers, seed=seed)
    sel = (emb.filter(F.col("node_id").isin([int(x) for x in basket]))
           .select(F.posexplode("emb").alias("pos", "x"))
           .groupBy("pos").agg(F.avg("x").alias("m"))
           .orderBy("pos").collect())
    new_emb = F.array(*[F.lit(float(r.m)) for r in sel])
    candidates = (graph["nodes"]["part"].select(F.col("node_id").alias("dst"))
                  .filter(~F.col("dst").isin([int(x) for x in basket])))
    scored = (candidates
              .join(emb.select(F.col("node_id").alias("dst"), "emb"), "dst")
              .select("dst", F.round(sigmoid(dot(to_double(F.col("emb")),
                                                 new_emb)), 6).alias("prob")))
    return [(r.dst, r.prob) for r in
            scored.orderBy(F.desc("prob"), F.col("dst")).limit(k).collect()]


def _jobs_of(spark, fn):
    """Spark job ids submitted while ``fn`` runs, by job group."""
    sc = spark.sparkContext
    sc.setJobGroup("test_pipeline_jobs", "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup("test_pipeline_jobs"))


def test_recommend_serves_from_dst_table(spark):
    """``recommend`` scores on the driver from one collected part
    embedding table per graph: it equals the per-request Spark
    expression exactly, a warm request submits no job, the table goes
    with the graph cache, and bad requests raise before any job."""
    from rel_db_to_graph_spark import pipeline, queries

    graph = convert(spark, SF_SMOKE)
    baskets = [[0, 1, 2], [5, 5, 7], [3], [11, 4, 9, 2], [17, 8]]
    for basket in baskets:
        got = [(r.dst, r.prob) for r in recommend(graph, EDGE, basket,
                                                  k=6).collect()]
        assert got == _recommend_twin(graph, basket, k=6), basket
    assert list(graph["dst_tables"]) == [("part", 4, 2, 42)]

    warm = []
    assert _jobs_of(spark, lambda: warm.extend(
        recommend(graph, EDGE, [0, 1, 2], k=5).collect())) == []
    assert [(r.dst, r.prob) for r in warm] == _recommend_twin(
        graph, [0, 1, 2], k=5)

    def error_and_jobs(edge_type, basket):
        caught = []
        jobs = _jobs_of(spark, lambda: caught.append(
            pytest.raises(ValueError, recommend, graph, edge_type, basket)))
        return str(caught[0].value), jobs

    n_parts = len(graph["dst_tables"][("part", 4, 2, 42)])
    msg, jobs = error_and_jobs(EDGE, [1, n_parts + 7, n_parts, -1, 1])
    assert jobs == [] and f"[-1, {n_parts}, {n_parts + 7}]" in msg
    msg, jobs = error_and_jobs(("part", "SELF_LOOP", "part"), [0])
    assert jobs == [] and "cross-type" in msg
    assert recommend(graph, EDGE, [0], k=0).collect() == []

    # a dst table over the driver budget is refused before the forward
    # runs, under a key that has no table yet
    budget = pipeline.DST_TABLE_MAX_BYTES
    pipeline.DST_TABLE_MAX_BYTES = n_parts * 4 * 8 - 1
    try:
        with pytest.raises(ValueError, match="DST_TABLE_MAX_BYTES"):
            recommend(graph, EDGE, [0], seed=7)
    finally:
        pipeline.DST_TABLE_MAX_BYTES = budget
    assert ("part", 4, 2, 7) not in graph["dst_tables"]

    queries.clear_caches()
    assert "dst_tables" not in convert(spark, SF_SMOKE)


def test_lsh_bucket_cap(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    sigs = doc_signatures(docs)
    unbounded = lsh_candidate_pairs(sigs, max_bucket=None).count()
    capped = lsh_candidate_pairs(sigs, max_bucket=2).count()
    assert capped <= unbounded
    # cap bounds worst-case fanout: no bucket contributes > C(2,2)=1 pair
    # per band, so capped pairs ≤ 4 bands × n_docs/2
    assert capped <= 4 * docs.count() // 2


def test_curation_pipeline_stage_monotone_and_capped(spark):
    """The capstone composition: each stage only removes documents,
    output respects the per-source cap, and every survivor passes every
    stage's predicate."""
    from rel_db_to_graph_spark.ml.quality import score_quality
    from rel_db_to_graph_spark.queries import q_curation_pipeline
    from tests.conftest import SF_ORACLE

    out = q_curation_pipeline(spark, SF_ORACLE).collect()
    assert out
    per_source = {}
    for r in out:
        per_source[r.source] = per_source.get(r.source, 0) + 1
    assert all(n <= 10 for n in per_source.values())
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    meta = {r.doc_id: r for r in
            docs.join(score_quality(docs), "doc_id").collect()}
    for r in out:
        assert meta[r.doc_id].lang == "en"
        assert meta[r.doc_id].quality_p > 0.5
