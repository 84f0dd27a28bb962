"""L2/L3 — neighbor sampling and negative sampling (LinkNeighborLoader
analog, dataloader.py:24-51).

Both use *content-addressed* pseudo-randomness (xxhash64 of the row key +
seed) instead of ``F.rand``: the sample is then a pure function of the
data, reproducible on any partitioning, restartable, and — critically for
the correctness harness — property-testable.

Scale shape of per-hop sampling: frontier ⋈ edges is an equi-join on src
(hash-partitioned, or broadcast while the frontier is small); the fanout
cut is a per-src window over a *bounded* partition (a node's out-edges),
ranked by the hash draw. No global sort, no collect; k hops = k joins,
with the frontier checkpointed between hops to cut lineage.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rel_db_to_graph_spark.operators.split import draw_bucket, draw_key


def sample_neighbors(edges: DataFrame, frontier: DataFrame, fanout: int,
                     seed: int = 42, hop: int = 0,
                     draw: str = "xxhash64") -> DataFrame:
    """≤ fanout out-edges per frontier node: (src, dst) sampled by
    hash-rank. fanout=-1 → full neighborhood (the reference's eval mode,
    dataloader.py:33).

    ``draw``: 'xxhash64' (default — cheapest JVM hash, the 100 TB
    choice) or 'md5' (bit-identical in DuckDB, so the registry query
    can be hash-checked against an independent SQL twin; requires
    NON-NULL src/dst — concat_ws drops NULLs while the twin's '||'
    propagates them — which the null-dropped edge frames guarantee).
    The sampling SHAPE — frontier join + bounded per-src window — is
    identical either way; only the rank key changes."""
    joined = edges.join(frontier.select("src").distinct(), "src")
    if fanout < 0:
        return joined.select("src", "dst")
    rank_key = draw_key(("src", "dst"), (seed + hop,), draw)
    w = Window.partitionBy("src").orderBy(rank_key, F.col("dst"))
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= fanout)
        .select("src", "dst")
    )


def sample_subgraph(edges: DataFrame, seeds: DataFrame, fanouts: list[int],
                    seed: int = 42, draw: str = "xxhash64") -> DataFrame:
    """Multi-hop neighborhood: union of per-hop sampled edges with the
    next frontier = sampled dst set. Returns (src, dst, hop)."""
    frontier = seeds.select("src")
    layers = []
    for hop, fanout in enumerate(fanouts):
        hop_edges = sample_neighbors(edges, frontier, fanout, seed, hop,
                                     draw=draw)
        layers.append(hop_edges.withColumn("hop", F.lit(hop)))
        if hop == len(fanouts) - 1:
            # the next frontier is never read after the last hop — and
            # building it is not free: the lazy localCheckpoint below
            # materializes the window+join's shuffle stages AT CALL
            # TIME (driver-blocking stage-jobs)
            break
        frontier = hop_edges.select(F.col("dst").alias("src")).distinct()
        # lineage cut between hops: each hop's plan otherwise nests the
        # previous hop's window+join
        frontier = frontier.localCheckpoint(eager=False)
    out = layers[0]
    for df in layers[1:]:
        out = out.unionAll(df)
    return out


def _edge_type_seed(seed: int, edge_type: tuple[str, str, str]) -> int:
    """Per-edge-type seed so the hash draws of different edge types are
    independent (driver-side, deterministic)."""
    import hashlib
    tag = "|".join(edge_type).encode()
    return seed + int.from_bytes(hashlib.md5(tag).digest()[:4], "big")


def sample_hetero_subgraph(graph: dict, seeds: dict[str, DataFrame],
                           fanouts: list[int], seed: int = 42,
                           draw: str = "xxhash64") -> DataFrame:
    """L2, heterogeneous (LinkNeighborLoader parity, dataloader.py:24-51):
    per hop, EVERY edge type whose src type is in the current frontier
    samples ≤ fanout out-edges per frontier node; the next frontier of a
    node type is the union of sampled dsts across all edge types landing
    there. ``fanouts`` is per LAYER and applies to all edge types in
    that layer — the reference's ``[num_neighbors] * num_layers`` train
    shape and ``[-1]`` eval shape (full neighborhood).

    ``graph`` is a build_graph dict; ``seeds`` maps node type ->
    DataFrame with a ``node_id`` column. Returns one frame
    (src_table, relation, dst_table, src, dst, hop).

    Scale shape: one frontier-join + bounded per-src window per edge
    type per hop, all content-addressed (reproducible on any
    partitioning); frontiers are localCheckpointed per hop to cut the
    growing lineage, exactly like the homogeneous operator.
    """
    frontier: dict[str, DataFrame] = {
        t: df.select("node_id") for t, df in seeds.items()}
    layers: list[DataFrame] = []
    for hop, fanout in enumerate(fanouts):
        nxt: dict[str, list[DataFrame]] = {}
        for (s, rel, d), edges in sorted(graph["edges"].items()):
            if s not in frontier:
                continue
            hop_edges = sample_neighbors(
                edges, frontier[s].select(F.col("node_id").alias("src")),
                fanout, seed=_edge_type_seed(seed, (s, rel, d)), hop=hop,
                draw=draw)
            layers.append(hop_edges.select(
                F.lit(s).alias("src_table"), F.lit(rel).alias("relation"),
                F.lit(d).alias("dst_table"), "src", "dst",
                F.lit(hop).alias("hop")))
            nxt.setdefault(d, []).append(
                hop_edges.select(F.col("dst").alias("node_id")))
        if hop == len(fanouts) - 1:
            break     # dead after the last hop — see sample_subgraph
        frontier = {}
        for d, parts in nxt.items():
            u = parts[0]
            for p in parts[1:]:
                u = u.unionAll(p)
            frontier[d] = u.distinct().localCheckpoint(eager=False)
    if not layers:
        raise ValueError("no edge type matched any seed node type")
    out = layers[0]
    for df in layers[1:]:
        out = out.unionAll(df)
    return out


def sample_incoming_store_multi(spark, edges: DataFrame,
                                frontiers: dict[int, list],
                                fanouts: list[int],
                                seeds: dict[int, int],
                                draw: str = "xxhash64") -> dict:
    """``sample_incoming`` for MANY mini-batches at once: every batch's
    in-edge closure in one driver job per hop instead of one per batch
    per hop (VERDICT r8 item 7 — the sampled trainers' residual cost is
    per-step scheduling floor, and batch membership + draws are
    parameter-INDEPENDENT, so nothing forces the sampling into the
    sequential optimizer loop).

    ``edges`` is the (src, dst) edge source: a plain frame, or a
    dst-bucketed table (``spark.table`` of a
    sources.bucketed.write_edge_table name) whose probe is bucket- and
    row-group-pruned — see ``_probe_incoming``. ``frontiers`` maps a
    batch tag -> seed node ids; ``seeds`` maps the same tags -> the
    per-batch sampling seed. Per hop: ONE probe whose dst filter is the
    union of every batch's frontier, ONE join against the tagged
    frontier frame, and ONE window over (_tag, dst) whose rank key is a
    per-tag CASE of exactly ``sample_incoming``'s hash expression (same
    literals, same literal TYPES — xxhash64 is type-sensitive), so each
    tag's edges are bit-identical to ``sample_incoming(edges, that
    tag's frontier, fanouts, seed=seeds[tag])`` (pinned by
    tests/test_edge_store.py) — materialized by ONE eager
    localCheckpoint. Round 12 replaced the union-of-per-batch-branches
    form: that form re-planned the probe scan and paid one window
    SHUFFLE per branch (measured ~17 s/epoch at sf1 — the sampled
    trainers' dominant exposed cost), where this form pays one scan and
    one shuffle per hop REGARDLESS of the branch count. Next frontiers
    for all batches come from one tagged collect. Returns {tag: sampled
    (src, dst, hop) frame}, each a RAM-resident filter."""
    cur = {tag: sorted(ids) for tag, ids in frontiers.items() if ids}
    layers: dict = {tag: [] for tag in frontiers}
    last = len(fanouts) - 1
    with _forced_bucketed_scan(spark):
        for hop, fanout in enumerate(fanouts):
            if not cur:
                break
            union_ids = sorted({i for ids in cur.values() for i in ids})
            pruned = _probe_incoming(edges, union_ids)
            tags = sorted(cur)
            tf = spark.createDataFrame(
                [(int(tag), int(i)) for tag in tags for i in cur[tag]],
                "_tag int, dst bigint")
            j = pruned.join(tf, "dst")
            if fanout >= 0:
                # per-tag rank key: sample_incoming's EXACT expression
                # (reversed orientation — it hashes (orig dst, orig
                # src, seed+hop) and tie-breaks on the original src)
                key = None
                for tag in tags:
                    k = draw_key(("dst", "src"), (seeds[tag] + hop,), draw)
                    key = (F.when(F.col("_tag") == int(tag), k)
                           if key is None
                           else key.when(F.col("_tag") == int(tag), k))
                w = Window.partitionBy("_tag", "dst").orderBy(
                    key, F.col("src"))
                j = (j.withColumn("_rk", F.row_number().over(w))
                     .filter(F.col("_rk") <= fanout))
            fused = (j.select("_tag", "src", "dst",
                              F.lit(hop).alias("hop"))
                     .localCheckpoint(eager=True))
            for tag in cur:
                layers[tag].append(
                    fused.filter(F.col("_tag") == int(tag)).drop("_tag"))
            if hop == last:
                break
            nxt: dict = {}
            for r in fused.select("_tag", "src").distinct().collect():
                nxt.setdefault(r["_tag"], set()).add(r["src"])
            cur = {tag: sorted(ids) for tag, ids in nxt.items()}
    empty = spark.createDataFrame([], "src bigint, dst bigint, hop int")
    out = {}
    for tag in frontiers:
        if not layers[tag]:
            out[tag] = empty
            continue
        df = layers[tag][0]
        for p in layers[tag][1:]:
            df = df.unionAll(p)
        out[tag] = df
    return out


def sample_incoming_hetero_store_multi(spark, graph_edges: dict,
                                       frontiers: dict[int, dict],
                                       fanouts: list[int],
                                       seeds: dict[int, int],
                                       draw: str = "xxhash64") -> dict:
    """Hetero twin of ``sample_incoming_store_multi``: ``graph_edges``
    maps each edge type (s, rel, d) to its edge source (a plain frame or
    a ``spark.table`` of sources.bucketed.write_edge_store). Per hop:
    ONE probe per edge type (shared by every batch), ONE join of their
    tagged union against the tagged frontier frame, and ONE window over
    (_tag, edge type, dst) whose rank key is a per-tag CASE of exactly
    ``sample_incoming_hetero``'s per-edge-type hash expressions — same
    per-edge-type seed derivation, same literal types — so each tag's
    edges are bit-identical to ``sample_incoming_hetero(graph_edges,
    that tag's frontier, fanouts, seed=seeds[tag])``
    (tests/test_edge_store.py). Round 12 replaced the union-of-branches
    form, which paid one window shuffle per (batch, edge type); this
    pays one shuffle per hop regardless of the batch count.
    ``frontiers``: tag -> {node_type: ids}. Raises
    ``sample_incoming_hetero``'s ValueError for a tag whose nonempty
    seeds match no edge type."""
    cur = {tag: {t: sorted(ids) for t, ids in fr.items() if ids}
           for tag, fr in frontiers.items()}
    layers: dict = {tag: [] for tag in frontiers}
    last = len(fanouts) - 1
    with _forced_bucketed_scan(spark):
        for hop, fanout in enumerate(fanouts):
            union_ids: dict = {}
            for fr in cur.values():
                for et in graph_edges:
                    if fr.get(et[2]):
                        union_ids.setdefault(et, set()).update(fr[et[2]])
            if not union_ids:
                break
            live_tags = [tag for tag in sorted(cur)
                         if any(cur[tag].get(et[2]) for et in union_ids)]
            if not live_tags:
                break
            tf = spark.createDataFrame(
                [(int(tag), t, int(i)) for tag in sorted(cur)
                 for t, ids in sorted(cur[tag].items()) for i in ids],
                "_tag int, _t string, node_id bigint")
            parts = []
            for et in sorted(union_ids):
                pruned = _probe_incoming(graph_edges[et],
                                         sorted(union_ids[et]))
                et_tags = [tag for tag in sorted(cur)
                           if cur[tag].get(et[2])]
                pj = pruned.join(
                    tf.filter((F.col("_t") == et[2]) &
                              F.col("_tag").isin(
                                  [int(t) for t in et_tags]))
                    .select("_tag", F.col("node_id").alias("dst")),
                    "dst")
                key = F.lit(0)
                if fanout >= 0:
                    key = None
                    for tag in et_tags:
                        # the reversed-graph per-edge-type seed
                        # sample_incoming_hetero derives (the rev tuple
                        # is (dst_table, relation, src_table))
                        ets = _edge_type_seed(
                            seeds[tag], (et[2], et[1], et[0]))
                        k = draw_key(("dst", "src"), (ets + hop,), draw)
                        key = (F.when(F.col("_tag") == int(tag), k)
                               if key is None
                               else key.when(F.col("_tag") == int(tag),
                                             k))
                parts.append(pj.select(
                    "_tag",
                    F.lit(et[0]).alias("src_table"),
                    F.lit(et[1]).alias("relation"),
                    F.lit(et[2]).alias("dst_table"),
                    "src", "dst", key.alias("_key")))
            u = parts[0]
            for p in parts[1:]:
                u = u.unionAll(p)
            if fanout >= 0:
                w = Window.partitionBy(
                    "_tag", "src_table", "relation", "dst_table",
                    "dst").orderBy(F.col("_key"), F.col("src"))
                u = (u.withColumn("_rk", F.row_number().over(w))
                     .filter(F.col("_rk") <= fanout))
            fused = (u.select("_tag", "src_table", "relation",
                              "dst_table", "src", "dst",
                              F.lit(hop).alias("hop"))
                     .localCheckpoint(eager=True))
            for tag in live_tags:
                layers[tag].append(
                    fused.filter(F.col("_tag") == int(tag)).drop("_tag"))
            if hop == last:
                break
            nxt: dict = {}
            for r in (fused.select("_tag", "src_table", "src")
                      .distinct().collect()):
                nxt.setdefault(r["_tag"], {}).setdefault(
                    r["src_table"], set()).add(r["src"])
            cur = {tag: {t: sorted(ids) for t, ids in fr.items()}
                   for tag, fr in nxt.items()}
    hempty = spark.createDataFrame(
        [], "src_table string, relation string, dst_table string, "
            "src bigint, dst bigint, hop int")
    out = {}
    for tag in frontiers:
        if not layers[tag]:
            if any(ids for ids in frontiers[tag].values()):
                # a NONEMPTY frontier no edge type reaches is
                # sample_incoming_hetero's structural error; an empty
                # batch is not — the trainers skip it via stats n == 0
                raise ValueError("no edge type matched any seed node type")
            out[tag] = hempty
            continue
        df = layers[tag][0]
        for p in layers[tag][1:]:
            df = df.unionAll(p)
        out[tag] = df
    return out


def negative_sample(positives: DataFrame, node_ids: DataFrame,
                    ratio: int = 1, seed: int = 42,
                    draw: str = "xxhash64") -> DataFrame:
    """Binary negative sampling (neg_sampling='binary', dataloader.py:27):
    corrupt dst uniformly over the node set, reject collisions with
    positives (anti-join). Returns (src, dst, label) with positives
    label=1 and ≈ratio negatives label=0 per positive.

    The corrupt-dst draw is hash(src, dst, i, seed) mod n — computed
    against the *dense* node-id space, so no join against the node table
    is needed to draw, only the anti-join to reject false negatives.
    """
    n = node_ids.agg(F.max("node_id").alias("n")).collect()[0]["n"] + 1
    pos = positives.select("src", "dst", F.lit(1).alias("label"))
    negs = []
    for i in range(ratio):
        corrupt = draw_bucket(draw_key(("src", "dst"), (i, seed), draw),
                              draw, n).cast("long")
        negs.append(
            positives.select(
                "src",
                corrupt.alias("dst"),
                F.lit(0).alias("label"),
            )
        )
    neg = negs[0]
    for df in negs[1:]:
        neg = neg.unionAll(df)
    neg = neg.join(positives, ["src", "dst"], "left_anti")
    return pos.unionAll(neg)


def sample_incoming_hetero(graph_edges: dict, seeds: dict,
                           fanouts: list[int], seed: int = 42,
                           draw: str = "xxhash64") -> DataFrame:
    """L2 in the MESSAGE-DEPENDENCY direction (LinkNeighborLoader,
    dataloader.py:24-51): ≤ fanout IN-edges per target node per edge
    type, frontier expanding backward through message flow — the
    neighborhood a GNN layer actually reads to compute the seeds'
    embeddings. Composes ``sample_hetero_subgraph`` over the
    edge-reversed graph, then un-reverses the sampled pairs, so the
    two operators share one sampling/core path.

    Returns (src_table, relation, dst_table, src, dst, hop) rows in
    ORIGINAL edge orientation: every (src, dst) is an edge of the input
    graph whose dst lies in the sampled dependency closure of ``seeds``.
    Per-type per-hop cost: one frontier join + a ≤fanout-bounded per-dst
    window — shuffle volume scales with fanout × |frontier|, not |E|.
    """
    rev = {"edges": {
        (d, rel, s): df.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"))
        for (s, rel, d), df in graph_edges.items()}}
    samp = sample_hetero_subgraph(rev, seeds, fanouts, seed=seed, draw=draw)
    return samp.select(
        F.col("dst_table").alias("src_table"), "relation",
        F.col("src_table").alias("dst_table"),
        F.col("dst").alias("src"), F.col("src").alias("dst"), "hop")


def sample_incoming(edges: DataFrame, seeds: DataFrame,
                    fanouts: list[int], seed: int = 42,
                    draw: str = "xxhash64") -> DataFrame:
    """Homogeneous twin of ``sample_incoming_hetero``: ≤ fanout IN-edges
    per node per hop, frontier expanding backward through message flow
    (what a k-layer GNN reads to embed the seeds). Composes
    ``sample_subgraph`` over the reversed edge frame; returns
    (src, dst, hop) in ORIGINAL orientation. ``seeds`` carries a
    ``node_id`` column. ``draw='md5'`` switches the rank key to the
    DuckDB-replayable hash (sample_neighbors' contract) — in REVERSED
    orientation the key is md5(dst:src:seed+hop)."""
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    samp = sample_subgraph(
        rev, seeds.select(F.col("node_id").alias("src")), fanouts, seed,
        draw=draw)
    return samp.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"), "hop")


# ---------------------------------------------------------------- probes
# The fused samplers above read each hop's edges through ONE probe of
# their edge source: the edges whose dst is in the union frontier
# (bounded by batch_size x prod(fanouts) per batch — the same bound as
# the sampled closure itself). The source is either the trainer's own
# edge frame or a dst-bucketed+sorted edge table (sources/bucketed.py,
# VERDICT r5 item 3). Against a table, Spark turns the probe's
# In(dst, ...) filter into BUCKET pruning (SelectedBucketsCount k out
# of n) plus parquet row-group pruning (sortBy clusters each key into
# few row groups), so a hop reads ~|frontier| row groups instead of
# |E| rows. The sampling code after the probe is the same for both
# sources, so the drawn edges are too.


@contextmanager
def _forced_bucketed_scan(spark):
    """Scope in which bucketed reads stay bucketed. autoBucketedScan
    would silently turn a table probe's bucketed read back into a plain
    file scan (no bucket pruning) because no join consumes the bucket
    partitioning — force it off (no effect on frames that are not
    bucketed), and RESTORE the previous value on exit
    so the shared session's planner settings do not leak into queries
    that run after a sampled-trainer run (ADVICE r6: cobucket_pair
    join plans executed under the mutated conf)."""
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


#: probe-form switch (round 12): an In(dst, ids) literal list costs
#: O(|ids|) DRIVER planning (Catalyst walks every literal child per
#: rule pass) plus O(|ids|)-ish execution — measured 4-15 s per probe
#: at 4k-16k ids against a 1.5M-row store, where a broadcast hash join
#: of the same frontier runs in ~0.7 s FLAT. Below the threshold the
#: literal form keeps static bucket + row-group pruning (the reason
#: the store exists: a SMALL frontier reads ~|frontier| row groups of
#: a 100 TB table); above it the frontier covers most buckets anyway —
#: pruning saves little while the literal costs grow — so the probe
#: switches to the broadcast join. Same rows either way.
_PROBE_IN_MAX = 1024


def _probe_incoming(edges: DataFrame, dst_ids: list) -> DataFrame:
    """Rows of ``edges`` whose dst is in ``dst_ids`` — an In(dst) filter
    for small frontiers (bucket+row-group-pruned on a dst-bucketed
    table; callers must EXECUTE it inside ``_forced_bucketed_scan``, as
    the conf is read at planning time), a broadcast join past
    _PROBE_IN_MAX."""
    if len(dst_ids) <= _PROBE_IN_MAX:
        return edges.filter(F.col("dst").isin(dst_ids))
    fr = edges.sparkSession.createDataFrame([(int(i),) for i in dst_ids],
                                            "dst bigint")
    return edges.join(F.broadcast(fr), "dst").select(*edges.columns)
