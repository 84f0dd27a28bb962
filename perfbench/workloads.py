"""The benchmark's workloads: one operation each, and its output checks.

Each workload drives the engine only through its public functions and
wraps every layer call in a ``Tracer`` span (a no-op in timed runs).
An operation returns its outputs; ``check`` inspects them afterwards,
outside every timed interval, and returns a list of problems.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random

#: the link the reference trains and serves: orders -> part
EDGE = ("orders", "hasPart", "part")
TOP_K = 10
BASKET = 3
EPOCHS = 3
#: DuckDB twins (rel_db_to_graph_spark.oracle.ORACLES) of graph_iterate
ORACLE_QUERIES = {"pagerank": "pagerank", "components": "dedup_clusters",
                  "triangles": "triangle_count"}
#: the tables the benchmark reads, one directory per scale factor
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
#: recorded hashes of those twins' results, per data directory name
ORACLE_FILE = os.path.join(os.path.dirname(DATA), "oracle.json")


def clear_caches() -> None:
    """Empty the engine's module-level graph and co-purchase caches, so
    the next build and the next co-purchase projection recompute. These
    names are private; perfbench/tests/test_perfbench.py pins them."""
    from rel_db_to_graph_spark import queries
    from rel_db_to_graph_spark.operators import graph_build

    for g in graph_build._GRAPH_CACHE.values():
        for df in list(g["nodes"].values()) + list(g["edges"].values()):
            df.unpersist()
    graph_build._GRAPH_CACHE.clear()
    for df in queries._COPURCHASE_CACHE.values():
        df.unpersist()
    queries._COPURCHASE_CACHE.clear()


def force_graph(graph: dict) -> dict:
    """Count every node and edge frame in one action; returns the counts
    keyed by node type and edge type."""
    from pyspark.sql import functions as F

    frames = list(graph["nodes"].items()) + list(graph["edges"].items())
    counts = None
    for i, (_key, df) in enumerate(frames):
        one = df.agg(F.count("*").alias("n")).withColumn("i", F.lit(i))
        counts = one if counts is None else counts.unionAll(one)
    return {frames[r.i][0]: r.n for r in counts.collect()}


def result_hash(pdf) -> str:
    """Order-insensitive hash of a result, over the rows in the form
    tests/oracle_harness.py compares them."""
    from tests.oracle_harness import canonical_rows

    rows = canonical_rows(pdf)
    return hashlib.sha256(repr((sorted(pdf.columns), rows)).encode()).hexdigest()


def oracle_hashes(sf_dir: str) -> dict[str, str]:
    """Hashes of the DuckDB twins of graph_iterate's three queries; the
    values oracle.json records for each data directory."""
    from rel_db_to_graph_spark.oracle import ORACLES
    from tests.oracle_harness import duck_con

    con = duck_con(sf_dir)
    try:
        return {span: result_hash(con.execute(ORACLES[q]).df())
                for span, q in ORACLE_QUERIES.items()}
    finally:
        con.close()


def expected_graph_counts(sf_dir: str) -> dict:
    """Node and edge counts of the typed graph, computed by DuckDB over
    the same parquet: a node per distinct key, a forward edge per pair
    row whose endpoints are both nodes, a reverse edge per forward edge
    and a self loop per node."""
    import duckdb

    from rel_db_to_graph_spark.plans.inference import (
        edge_catalog_py,
        node_tables_py,
    )

    con = duckdb.connect()
    src = lambda t: f"'{sf_dir}/{t}.parquet'"  # noqa: E731
    pks = dict(node_tables_py())
    out: dict = {}
    for t, pk in pks.items():
        out[t] = con.execute(f"SELECT count(DISTINCT {pk}) FROM {src(t)} "
                             f"WHERE {pk} IS NOT NULL").fetchone()[0]
        out[(t, "SELF_LOOP", t)] = out[t]
    for e in edge_catalog_py():
        s, r, d = e["src_table"], e["relation"], e["dst_table"]
        n = con.execute(
            f"SELECT count(*) FROM {src(e['pair_table'])} p "
            f"WHERE p.{e['src_col']} IN (SELECT {pks[s]} FROM {src(s)}) "
            f"AND p.{e['dst_col']} IN (SELECT {pks[d]} FROM {src(d)})"
        ).fetchone()[0]
        out[(s, r, d)] = out[(d, f"REVERSE_{r}", s)] = n
    con.close()
    return out


class Pipeline:
    """convert -> train -> serve: the reference's three entry points.

    One operation clears the caches, builds the typed graph and forces
    every frame (``graph_build``, a cache miss), trains the link scorer
    (``train.prep`` around ``pipeline.train``, with ``edge_scorer``
    around the trainer it calls), then serves requests. A request fetches
    the graph through ``pipeline.convert`` (a ``graph_build`` cache hit),
    calls ``pipeline.recommend`` (``embed``, with ``mutate`` around the
    mutation it calls) and collects the top-k (``topk``). There are two
    requests, the second a replay of the first basket: the answer must
    not change."""

    name = "pipeline"
    spans = ("graph_build", "train.prep", "edge_scorer", "mutate", "embed",
             "topk")

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self._expected: dict[str, dict] = {}

    def install(self, tracer):
        """Open spans around the trainer and the mutation that
        ``pipeline.train`` and ``pipeline.recommend`` call. Returns a
        function that puts the original names back."""
        from rel_db_to_graph_spark import pipeline

        originals = {"train_edge_scorer": pipeline.train_edge_scorer,
                     "mutate_for_inference": pipeline.mutate_for_inference}

        def wrap(fn, name):
            def inner(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
            return inner
        pipeline.train_edge_scorer = wrap(pipeline.train_edge_scorer,
                                          "edge_scorer")
        pipeline.mutate_for_inference = wrap(pipeline.mutate_for_inference,
                                             "mutate")

        def undo():
            for name, fn in originals.items():
                setattr(pipeline, name, fn)
        return undo

    def op(self, spark, tracer, sf_dir: str) -> dict:
        import pyarrow.parquet as pq

        from rel_db_to_graph_spark import pipeline

        n_parts = pq.ParquetFile(f"{sf_dir}/part.parquet").metadata.num_rows
        basket = self.rng.sample(range(n_parts), BASKET)
        train_seed = self.rng.randrange(2**31)
        clear_caches()
        with tracer.span("graph_build"):
            graph = pipeline.convert(spark, sf_dir)
            counts = force_graph(graph)
        with tracer.span("train.prep"):
            history = pipeline.train(graph, EDGE, epochs=EPOCHS,
                                     seed=train_seed).history
        answers, hits = [], 0
        for _replay in range(2):
            with tracer.span("graph_build"):
                served = pipeline.convert(spark, sf_dir)
            hits += served is graph
            with tracer.span("embed"):
                top = pipeline.recommend(served, EDGE, basket, k=TOP_K)
            with tracer.span("topk"):
                answers.append((basket, [(r.dst, r.prob)
                                         for r in top.collect()]))
        return {"counts": counts, "history": history, "answers": answers,
                "cache_hits": hits, "requests": len(answers)}

    def check(self, sf_dir: str, out: dict) -> list[str]:
        if sf_dir not in self._expected:
            self._expected[sf_dir] = expected_graph_counts(sf_dir)
        problems = []
        if out["counts"] != self._expected[sf_dir]:
            bad = {k: (v, self._expected[sf_dir].get(k))
                   for k, v in out["counts"].items()
                   if v != self._expected[sf_dir].get(k)}
            problems.append(f"graph counts differ from DuckDB: {bad}")
        hist = out["history"]
        if len(hist) != EPOCHS or not all(
                math.isfinite(h["train_loss"]) and math.isfinite(h["val_loss"])
                for h in hist):
            problems.append(f"bad training history: {hist}")
        for basket, rows in out["answers"]:
            if len(rows) != TOP_K:
                problems.append(f"{len(rows)} recommendations, not {TOP_K}")
            if not all(0.0 <= p <= 1.0 for _d, p in rows):
                problems.append(f"probability outside [0, 1]: {rows}")
            if {d for d, _p in rows} & set(basket):
                problems.append(f"basket {basket} recommended back: {rows}")
        if out["answers"][0] != out["answers"][-1]:
            problems.append("replayed basket gave a different answer")
        if out["cache_hits"] != out["requests"]:
            problems.append(f"{out['cache_hits']} graph cache hits for "
                            f"{out['requests']} requests")
        return problems


class GraphIterate:
    """The BSP graph loops, data-bound at sf0.1: PageRank over the
    order-customer-nation chain (``pagerank``), connected components
    over near-duplicate document pairs (``components``) and per-part
    triangle counts on the co-purchase graph (``triangles``). Each
    result is collected in full through Arrow, which evaluates every
    output column, and is hash-checked against the recorded hash of its
    DuckDB twin. The seed is unused: the inputs are the fixed tables
    whose twin hashes oracle.json records."""

    name = "graph_iterate"
    spans = ("pagerank", "components", "triangles")

    def __init__(self, seed: int):
        with open(ORACLE_FILE) as fh:
            self.oracle = json.load(fh)  # data dir name -> span -> hash

    def install(self, tracer):
        return lambda: None

    def op(self, spark, tracer, sf_dir: str) -> dict:
        from rel_db_to_graph_spark import queries as Q

        clear_caches()
        out = {}
        for span, query in (("pagerank", Q.q_pagerank),
                            ("components", Q.q_dedup_clusters),
                            ("triangles", Q.q_triangle_count)):
            with tracer.span(span):
                out[span] = query(spark, sf_dir).toPandas()
        return out

    def check(self, sf_dir: str, out: dict) -> list[str]:
        expected = self.oracle.get(os.path.basename(sf_dir))
        if expected is None:
            return [f"no oracle hashes for {sf_dir}"]
        return [f"{span} result differs from its DuckDB twin"
                for span, pdf in out.items()
                if result_hash(pdf) != expected[span]]


WORKLOADS = {w.name: w for w in (Pipeline, GraphIterate)}
