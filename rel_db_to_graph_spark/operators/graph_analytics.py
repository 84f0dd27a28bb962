"""Graph analytics over projected relational graphs — triangle counting,
clustering coefficients, neighborhood similarity, BFS distances.

The reference stops at *building* the graph (rel_db_to_graph: tables ->
hetero node/edge tensors for a GNN); a complete engine must also *analyze*
it. This module adds the classic graph-analytics tier on top of the same
edge-list representation `graph_build.py` already emits, plus the
co-occurrence projection that turns a fact table into a unipartite graph
(market-basket style: parts co-purchased in one order become an edge).

Scale shapes (the point of each implementation):

* ``copurchase_edges`` — self-join on the basket key. Spark co-partitions
  both sides on the key, so pair generation is local per basket; output
  volume is sum(basket_size^2), which is why ``max_basket`` caps the
  quadratic blow-up at 100 TB (a single degenerate basket of 1M rows
  would otherwise emit 10^12 pairs from one task).
* ``triangle_counts`` — degree-ordered orientation + edge-iterator
  intersection. Each undirected edge is directed from the (degree,
  id)-smaller endpoint to the larger one, so every vertex's OUT-degree
  is O(sqrt(|E|)) on any graph — the bound that keeps a celebrity node
  of degree 10M from generating any quadratic work (its edges all
  point INTO it). Triangles are then counted at each edge (a, b) as
  |N+(a) ∩ N+(b)| over collected out-adjacency arrays (bounded by the
  same cap), so the wedge set never materializes as rows; total work
  is still <= |E|^1.5 but the per-triangle constant halves (measured
  2x at sf0.1 vs the explicit wedge self-join). Three shuffles (degree
  agg, adjacency collect, two array joins share the second); no
  driver state.
* ``neighborhood_jaccard`` — wedge enumeration on the symmetrized
  adjacency, one shuffle on the wedge center, then a count-groupBy on the
  (b, c) pair. Run it on a thresholded projection (min_count >= 2) — on
  the raw co-occurrence graph the wedge volume is what the orientation
  trick above exists to avoid.
* ``bfs_distances`` — frontier BSP: each level is one equi-join
  (frontier x adjacency) + one anti-join (drop visited). State per
  level is bounded by |V|; the frontier never materializes paths (the
  DuckDB oracle enumerates bounded-depth paths instead — exact but
  exponential-ish, fine at test SF, which is what an oracle is for).

The iterative loops (BFS, k-core, label propagation, HyperBall, exact
balls) run on operators/bsp.py's edge layout and superstep driver.

Oracle twins live in oracle.py (TRIANGLES / CLUSTERING_COEFF /
NODE_JACCARD / GRAPH_BFS / COPURCHASE / CLUSTER_REP): id-ordered triple
joins and a recursive CTE — different enumeration ORDER than the
rank-ordered Spark plan, identical SETS, hence identical counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rel_db_to_graph_spark.operators import bsp


def copurchase_edges(lineitem: DataFrame, min_count: int = 1,
                     max_basket: int | None = None) -> DataFrame:
    """Unipartite co-occurrence projection of (order, part): one row per
    unordered part pair (u < v) with ``w`` = number of orders containing
    both. ``max_basket`` drops baskets larger than the cap — the
    quadratic-output guard for degenerate baskets.

    Two shuffles total: one groupBy on the basket key (collect_set
    dedups repeat (order, part) rows and is map-side-combined), one on
    the pair key. Pair generation is a basket-LOCAL higher-order
    function over the sorted part array — no self-join, no second scan.
    The transient per-basket set is O(basket) memory; the cap then
    drops oversized baskets BEFORE the quadratic pair expansion.
    """
    li = lineitem.select(F.col("l_orderkey").alias("k"),
                         F.col("l_partkey").alias("p"))
    baskets = li.groupBy("k").agg(
        F.array_sort(F.collect_set("p")).alias("ps"))
    if max_basket is not None:
        baskets = baskets.filter(F.size("ps") <= max_basket)
    pairs = baskets.select(F.explode(F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
    )).alias("pr"))
    return (pairs.select("pr.u", "pr.v")
            .groupBy("u", "v")
            .agg(F.count("*").alias("w"))
            .filter(F.col("w") >= F.lit(min_count)))


def degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) over an undirected (u, v) edge list with u < v."""
    both = (edges.select(F.col("u").alias("node"))
            .unionByName(edges.select(F.col("v").alias("node"))))
    return both.groupBy("node").agg(F.count("*").alias("deg"))


def _oriented(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Direct each undirected edge from the (deg, id)-smaller endpoint
    to the larger one; carry the destination's rank key for the wedge
    ordering. Output: (s, d, d_deg). ``deg`` is passed in so callers
    composing triangles with degree outputs compute it once."""
    e = (edges
         .join(deg.withColumnRenamed("node", "u")
                  .withColumnRenamed("deg", "du"), "u")
         .join(deg.withColumnRenamed("node", "v")
                  .withColumnRenamed("deg", "dv"), "v"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("d"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("d_deg"))


def triangle_counts(edges: DataFrame, materialized: bool = False) -> DataFrame:
    """(node, n_triangles) for every vertex on >= 1 triangle.

    Degree-ordered orientation + edge-iterator intersection (see
    ``_triangle_counts_on``): each triangle is found exactly once at
    its lowest-rank edge via a bounded out-adjacency intersect.
    Exploding the 3 members and counting gives per-node totals —
    orientation-independent, which is what lets the id-ordered DuckDB
    oracle match bit-for-bit.

    The edge list is materialized ONCE up front (localCheckpoint):
    callers pass a derived projection (e.g. the co-purchase self-join)
    whose lineage would otherwise re-run for the degree pass AND both
    sides of the orientation join. Callers whose edge frame is ALREADY
    a materialized barrier (the shared co-purchase checkpoint) pass
    ``materialized=True`` and skip a redundant full copy of |E| rows
    (optimization round 12 — one whole materialization job saved).

    CONTRACT (r12 ADVICE): ``materialized=True`` is an unchecked caller
    PROMISE that ``edges`` is a checkpoint/cached scan. Passing a lazy
    derived frame does not break correctness — it silently re-runs the
    edge lineage once for the degree pass and once for the adjacency
    build, i.e. it multiplies the edge-derivation cost by ~2-3x, which
    is exactly the recompute the default unconditional checkpoint
    exists to prevent. When unsure, leave the default (False).
    """
    if not materialized:
        edges = edges.localCheckpoint(eager=True)
    return _triangle_counts_on(edges, degrees(edges))


def _triangle_counts_on(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Edge-iterator on the oriented graph (round 6 — replaces the
    explicit wedge self-join, measured 2x at sf0.1 with identical
    output): every oriented triangle a→b, a→c, b→c is counted once at
    its LOWEST-RANK edge (a, b) as c ∈ N⁺(a) ∩ N⁺(b). Out-adjacency
    arrays are bounded by the orientation's O(√|E|) out-degree cap (97
    at sf0.1's 1.2M-edge projection), so the per-row intersect is
    bounded work and the 41M-row wedge set never materializes —
    work per node concentrates identically to the wedge join (both
    hash on the apex), but materialization drops from one row per
    wedge to one array-intersect per edge.

    Optimization round 12 (guide §2.4): the oriented edge list is no
    longer materialized and then joined against the adjacency twice —
    the ADJACENCY table is the one barrier (|V| rows, same total longs
    as the |E|-row edge list), the (u, v, N⁺(u)) side derives from it
    by a map-only explode, and ONE join on v attaches N⁺(v). Plan
    shape: 2 joins + 2 barriers → 1 join + 1 barrier; each oriented
    edge still meets exactly once, so counts are bit-identical."""
    o = _oriented(edges, deg)
    adj = (o.groupBy("s").agg(F.collect_list("d").alias("nbr"))
           .localCheckpoint(eager=True))
    pairs = adj.select(F.col("s").alias("u"), F.col("nbr").alias("nu"),
                       F.explode("nbr").alias("v"))
    j = pairs.join(adj.select(F.col("s").alias("v"),
                              F.col("nbr").alias("nv")), "v")
    tri = (j.select("u", "v", F.array_intersect("nu", "nv").alias("xs"))
           .filter(F.size("xs") > 0))
    members = tri.select(F.explode(
        F.expr("flatten(transform(xs, x -> array(u, v, x)))")).alias("node"))
    return members.groupBy("node").agg(F.count("*").alias("n_triangles"))


def clustering_coefficient(edges: DataFrame,
                           materialized: bool = False) -> DataFrame:
    """(node, deg, coeff): local clustering coefficient
    2*T(v) / (deg(v) * (deg(v)-1)) for every node with deg >= 2, rounded
    to 6 dp (the cross-engine float contract used repo-wide). Nodes on
    no triangle get coeff 0.0, not a dropped row. Shares one edge
    materialization and one degree pass with the triangle computation.
    ``materialized=True`` = the caller's edge frame is already a
    barrier; skip the redundant copy (same contract as
    ``triangle_counts``)."""
    if not materialized:
        edges = edges.localCheckpoint(eager=True)
    all_deg = degrees(edges).localCheckpoint(eager=True)
    deg = all_deg.filter(F.col("deg") >= 2)
    tri = _triangle_counts_on(edges, all_deg)
    return (deg.join(tri, "node", "left")
            .select("node", "deg",
                    F.round(F.lit(2.0)
                            * F.coalesce(F.col("n_triangles"), F.lit(0))
                            / (F.col("deg") * (F.col("deg") - F.lit(1))),
                            6).alias("coeff")))


def neighborhood_jaccard(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """(a, b, common, jaccard) for node pairs sharing >= min_common
    neighbors: Jaccard similarity of neighbor SETS — the graph-topology
    twin of the shingle-Jaccard in dedup.py ("two products bought with
    the same things are similar, even if never bought together").

    Wedge counting: for each center v, every unordered pair of its
    neighbors (a < b) is one common-neighbor witness; groupBy (a, b)
    counts them. One shuffle on the center (the symmetrize), one on the
    pair. Intended for thresholded projections — on a raw co-occurrence
    graph use triangle_counts' orientation instead.
    """
    sym = (edges.select(F.col("u").alias("c"), F.col("v").alias("n"))
           .unionByName(edges.select(F.col("v").alias("c"),
                                     F.col("u").alias("n"))))
    n1 = sym.select(F.col("c"), F.col("n").alias("a"))
    n2 = sym.select(F.col("c"), F.col("n").alias("b"))
    common = (n1.join(n2, "c")
              .filter(F.col("a") < F.col("b"))
              .groupBy("a", "b")
              .agg(F.count("*").alias("common"))
              .filter(F.col("common") >= F.lit(min_common)))
    deg = degrees(edges)
    return (common
            .join(deg.select(F.col("node").alias("a"),
                             F.col("deg").alias("da")), "a")
            .join(deg.select(F.col("node").alias("b"),
                             F.col("deg").alias("db")), "b")
            .select("a", "b", "common",
                    F.round(F.col("common")
                            / (F.col("da") + F.col("db") - F.col("common")),
                            6).alias("jaccard")))


def bfs_distances(edges: DataFrame, source, max_depth: int = 4) -> DataFrame:
    """(node, dist) = unweighted shortest-path distance from ``source``
    to every node within ``max_depth`` hops, frontier BSP.

    Per level: frontier ⋈ adjacency (equi-join on the frontier node),
    minus already-visited (left_anti) — no path enumeration, state
    bounded by |V|. One ``bsp.supersteps`` superstep per level; the
    levels after the frontier empties are no-ops.
    """
    sym = bsp.edge_layout(
        edges.select(F.col("u").alias("s"), F.col("v").alias("t")), "s",
        symmetric=True)
    seen = sym.sparkSession.createDataFrame(
        [(source, 0, True)], "node bigint, dist int, _new boolean")

    def step(seen: DataFrame) -> DataFrame:
        frontier = seen.filter(F.col("_new"))
        nxt = (sym.join(frontier.select(F.col("node").alias("s"), "dist"),
                        "s")
               .select(F.col("t").alias("node"),
                       (F.col("dist") + 1).alias("dist")).distinct()
               .join(seen.select("node"), "node", "left_anti"))
        return (seen.withColumn("_new", F.lit(False))
                .unionByName(nxt.withColumn("_new", F.lit(True))))

    *_, seen = bsp.supersteps(seen, step, max_depth)
    return seen.select("node", "dist")


def k_core(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """(node, core_deg) for the k-core: the maximal subgraph in which
    every vertex has degree >= k. Iterative peeling — drop vertices with
    degree < k, recompute, repeat to the (unique, order-independent)
    fixpoint.

    Each round is one degree aggregation + two semi-joins on the
    surviving edge set; rounds <= the graph's degeneracy ordering depth
    (small in practice — peeling removes whole shells, not single
    vertices). The edge set only shrinks, so convergence is
    ``bsp.fixpoint`` on its row count: one count job per round. The
    oracle is oracle.py's ``_k_core_sql``, an unrolled-CTE twin guarded
    by its own convergence check; the test suite also pins equality
    against a brute-force Python peeler.
    """
    cur = bsp.edge_layout(
        edges.select("u", "v").filter(F.col("u") != F.col("v")), "u",
        dedupe=True)

    def step(cur: DataFrame) -> DataFrame:
        keep = degrees(cur).filter(F.col("deg") >= k).select("node")
        return (cur
                .join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
                .select("u", "v"))

    core = bsp.fixpoint(cur, step, max_iter, F.count(F.lit(1)), "k_core")
    return degrees(core).filter(F.col("deg") >= k).select(
        "node", F.col("deg").alias("core_deg"))


def triangle_counts_incremental(old_edges: DataFrame,
                                new_edges: DataFrame) -> DataFrame:
    """Per-node triangle counts of old ∪ new computed INCREMENTALLY:
    old counts (cached from the previous batch in production) plus only
    the triangles that touch >= 1 new edge — the CDC shape where a small
    edge batch must not trigger an O(|E|^1.5) full recount.

    Delta enumeration is a disjoint 3-way decomposition over id-ordered
    triangles (a < b < c) with edges e1=(a,b), e2=(b,c), e3=(a,c):

      * e1 new:              join new x all x all
      * e1 old, e2 new:      join old x new x all
      * e1, e2 old, e3 new:  join old x old THEN against new e3 first

    Every join in the first two patterns is keyed off the NEW side, so
    shuffle volume scales with |N| * avg_deg, not |E|. The third
    pattern starts from the new closing edge (a, c) and probes the old
    in-edges of a and c, again O(|N| * avg_deg). ``new_edges`` must be
    disjoint from ``old_edges`` (the caller anti-joins; copurchase
    weight deltas on EXISTING pairs don't change the unweighted
    topology).
    """
    # enforce the documented contract instead of trusting it (ADVICE
    # r5): per-set distinct is cheap relative to the wedge joins, and a
    # duplicate or old∩new row would silently overcount triangles.
    old = old_edges.select("u", "v").distinct().localCheckpoint(eager=True)
    new = (new_edges.select("u", "v").distinct()
           .join(old, ["u", "v"], "left_anti")
           .localCheckpoint(eager=True))

    def tri_from(e1: DataFrame, e2: DataFrame, e3: DataFrame) -> DataFrame:
        # id-ordered triple join: e1=(a,b), e2=(b,c), e3=(a,c)
        t = (e1.select(F.col("u").alias("a"), F.col("v").alias("b"))
             .join(e2.select(F.col("u").alias("b"), F.col("v").alias("c")),
                   "b")
             .join(e3.select(F.col("u").alias("a"), F.col("v").alias("c")),
                   ["a", "c"], "left_semi"))
        return t.select("a", "b", "c")

    both = old.unionByName(new)
    # pattern 3 stated from the new closing edge: (a, c) ∈ N with
    # (a, b) ∈ O and (b, c) ∈ O — enumerate b from the old edge sets
    p3 = (new.select(F.col("u").alias("a"), F.col("v").alias("c"))
          .join(old.select(F.col("u").alias("a"), F.col("v").alias("b")),
                "a")
          .filter(F.col("b") < F.col("c"))
          .join(old.select(F.col("u").alias("b"), F.col("v").alias("c")),
                ["b", "c"], "left_semi")
          .select("a", "b", "c"))
    delta = (tri_from(new, both, both)
             .unionByName(tri_from(old, new, both))
             .unionByName(p3))
    delta_counts = (delta.select(F.explode(F.array("a", "b", "c"))
                                 .alias("node"))
                    .groupBy("node").agg(F.count("*").alias("d")))
    base = triangle_counts(old, materialized=True)  # `old` is the
    # checkpointed distinct frame built at the top of this function
    return (base.join(delta_counts, "node", "full")
            .select("node",
                    (F.coalesce(F.col("n_triangles"), F.lit(0))
                     + F.coalesce(F.col("d"), F.lit(0)))
                    .alias("n_triangles"))
            .filter(F.col("n_triangles") > 0))


def cluster_representatives(clusters: DataFrame,
                            documents: DataFrame) -> DataFrame:
    """One row per duplicate cluster with the doc a dedup pass KEEPS:
    largest n_chars wins, ties to the smallest doc_id — the integer-exact
    "keep the longest member" policy (float quality scores would make the
    argmax engine-order-dependent). Input: (doc_id, cluster_id, ...) from
    components.duplicate_clusters + the documents table."""
    j = clusters.join(documents.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc())
    return (j.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("cluster_id"),
                    F.col("doc_id").alias("rep_id"),
                    F.col("n_chars").alias("rep_chars")))


def label_propagation(edges: DataFrame, n_iter: int = 5) -> DataFrame:
    """(node, community) after ``n_iter`` SYNCHRONOUS label-propagation
    rounds (Raghavan et al. 2007) over an undirected (u, v) edge list:
    start with community = own id; each round every node adopts the
    most frequent label among its neighbors, ties broken by the
    SMALLEST label — total and deterministic, which is what makes an
    LPA variant oracle-checkable (the classic algorithm breaks ties
    randomly and updates asynchronously; synchronous + least-label is
    the reproducible form).

    Per round: one equi-join of labels onto the symmetrized edges, one
    groupBy((node, label)) count (map-side combined), one per-node
    argmax window over a neighbor-label-bounded partition — the
    bsp.py superstep. Shuffle volume per round is O(|E|) label pairs.
    Isolated nodes keep their own label.
    """
    sym = bsp.edge_layout(
        edges.select(F.col("u").alias("n"), F.col("v").alias("m")), "m",
        symmetric=True, dedupe=True)
    verts = sym.select(F.col("n").alias("node")).distinct() \
        .localCheckpoint(eager=True)

    def step(labels: DataFrame) -> DataFrame:
        nbr = (sym.join(labels.select(F.col("node").alias("m"),
                                      F.col("community").alias("_l")), "m")
               .groupBy(F.col("n").alias("node"), F.col("_l"))
               .agg(F.count("*").alias("_c")))
        w = Window.partitionBy("node").orderBy(F.desc("_c"),
                                               F.col("_l").asc())
        best = (nbr.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") == 1)
                .select("node", F.col("_l").alias("community")))
        return (verts.join(best, "node", "left")
                .select("node",
                        F.coalesce(F.col("community"), F.col("node"))
                        .alias("community")))

    *_, labels = bsp.supersteps(
        verts.select("node", F.col("node").alias("community")), step, n_iter)
    return labels


def hyperball(edges: DataFrame, radius: int = 2,
              lgk: int = 12) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): per-node neighborhood-function
    estimates |B_r(v)| for r = 0..radius via mergeable HLL sketches —
    THE algorithm for centralities on web-scale graphs, because exact
    r-ball sets are quadratic-ish while sketches make each round one
    |E|-shuffle of fixed-width registers (2^lgk bytes/node, constant in
    |V|). Uses Spark's native datasketches aggregates
    (hll_sketch_agg / hll_union_agg — JVM-side, no UDF).

    Round r: sketch_r(v) = union(sketch_{r-1}(v), sketch_{r-1}(m) for
    each neighbor m) — one join of sketches onto the symmetrized edges
    + one hll_union_agg groupBy, a bsp.py superstep. Returns
    (node, est_0..est_radius) with monotone ball estimates. From these,
    harmonic centrality ≈ Σ_r (est_r − est_{r-1}) / r.
    """
    sym = bsp.edge_layout(
        edges.select(F.col("u").alias("n"), F.col("v").alias("m")), "m",
        symmetric=True, dedupe=True)
    verts = (sym.select(F.col("n").alias("node")).distinct()
             .localCheckpoint(eager=True))

    def step(sk: DataFrame) -> DataFrame:
        nbr = (sym.join(sk.select(F.col("node").alias("m"),
                                  F.col("sk").alias("_nsk")), "m")
               .select(F.col("n").alias("node"),
                       F.col("_nsk").alias("sk")))
        return (sk.unionByName(nbr)
                .groupBy("node").agg(F.hll_union_agg("sk").alias("sk")))

    sk = verts.groupBy("node").agg(
        F.hll_sketch_agg("node", F.lit(int(lgk))).alias("sk"))
    out = None
    for r, s in enumerate(bsp.supersteps(sk, step, radius)):
        est = s.select("node", F.hll_sketch_estimate("sk").alias(f"est_{r}"))
        out = est if out is None else out.join(est, "node")
    return out


def ball_sizes_exact(edges: DataFrame, radius: int = 2) -> DataFrame:
    """EXACT |B_r(v)| for r = 1..radius — the audit twin of
    ``hyperball`` (materializes r-ball member sets: fine at test SF,
    which is what an audit is for; quadratic-ish at scale, which is why
    hyperball exists). Returns (node, n_ball_1..n_ball_radius)."""
    sym = bsp.edge_layout(
        edges.select(F.col("u").alias("n"), F.col("v").alias("m")), "n",
        symmetric=True, dedupe=True)
    members = (sym.select(F.col("n").alias("node"),
                          F.col("m").alias("x"))
               .unionByName(
                   sym.select(F.col("n").alias("node"),
                              F.col("n").alias("x")))
               .distinct())

    def step(members: DataFrame) -> DataFrame:
        return (members
                .join(sym.select(F.col("n").alias("x"),
                                 F.col("m").alias("_m")), "x")
                .select("node", F.col("_m").alias("x"))
                .unionByName(members)
                .distinct())

    out = None
    for r, m in enumerate(bsp.supersteps(members, step, radius - 1), 1):
        counts = m.groupBy("node").agg(F.count("*").alias(f"n_ball_{r}"))
        out = counts if out is None else out.join(counts, "node")
    return out
