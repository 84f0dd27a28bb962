"""Bulk-synchronous (BSP) graph loops: the edge layout and superstep
driver shared by every iterative graph operator.

The physical plan is Pregelix's (Bu et al., VLDB 2014): the edge list
is laid out ONCE, hash-partitioned on the vertex key each superstep
joins on; each superstep joins the vertex state onto it and groups, so
only the (small) state is shuffled (below the broadcast threshold the
planner broadcasts a side instead). Every superstep ends in a barrier
(``localCheckpoint`` here, a parquet write at 100 TB) so the lineage
Catalyst re-optimises stays one barrier deep.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: estimated bytes per edge row (two longs + row overhead) and the
#: per-partition target (guide §2.2: the 100 MB–1 GB band)
_SYM_ROW_BYTES = 24
_TARGET_PART_BYTES = 128 * 1024 * 1024


def _checkpointed_bytes(df: DataFrame) -> int | None:
    """Materialized byte size of a just-``localCheckpoint(eager=True)``'d
    frame, read from the block manager's storage registry — ZERO jobs.
    The checkpoint's LogicalRDD wraps exactly the persisted RDD, so its
    id keys the RDDInfo entry. Returns None when the internals shift
    (py4j accessor path) so callers can fall back to an exact count."""
    try:
        rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
        jsc = df.sparkSession.sparkContext._jsc.sc()
        for info in jsc.getRDDStorageInfo():
            if info.id() == rdd_id:
                return int(info.memSize() + info.diskSize())
    except Exception:
        return None
    return None


def edge_layout(edges: DataFrame, key: str, symmetric: bool = False,
                dedupe: bool = False) -> DataFrame:
    """``edges`` hash-partitioned on ``key`` (the column each superstep
    joins the state on) and checkpointed. An explicit partition count is
    never coalesced by AQE; it starts at the core count and grows to one
    partition per ``_TARGET_PART_BYTES`` of measured bytes (a re-layout
    paid only at cluster scale).

    ``symmetric`` adds every edge reversed (``edges`` must have exactly
    two columns). ``dedupe`` drops duplicate rows inside the layout
    exchange — equal rows share ``key`` — so edges cross the network
    once."""
    if symmetric:
        a, b = edges.columns
        edges = edges.unionByName(
            edges.select(F.col(b).alias(a), F.col(a).alias(b)))
    n_floor = edges.sparkSession.sparkContext.defaultParallelism
    laid = edges.repartition(n_floor, key)
    if dedupe:
        laid = laid.dropDuplicates()
    laid = laid.localCheckpoint(eager=True)
    size = _checkpointed_bytes(laid)
    if size is None:
        size = laid.count() * _SYM_ROW_BYTES
    n = int(size // _TARGET_PART_BYTES) + 1
    if n > n_floor:
        laid = laid.repartition(n, key).localCheckpoint(eager=True)
    return laid


Step = Callable[[DataFrame], DataFrame]


def supersteps(state: DataFrame, step: Step, n: int,
               every: int = 1) -> Iterator[DataFrame]:
    """Yield ``state``, then the state after each of ``n`` supersteps
    ``state = step(state)``, with a barrier every ``every``-th superstep
    and after the last."""
    yield state
    for it in range(n):
        state = step(state)
        if (it + 1) % every == 0 or it == n - 1:
            state = state.localCheckpoint(eager=True)
        yield state


def fixpoint(state: DataFrame, step: Step, max_iter: int,
             measure: Column | None, name: str) -> DataFrame:
    """Supersteps (a barrier each) until a MONOTONE state — rows only
    removed, only added, or per-key values only lowered — stops
    changing; raises if ``max_iter`` runs out first.

    For such a state "unchanged" equals "``measure`` unchanged" when the
    measure moves with every change (a row count, an exact decimal sum):
    one aggregate per superstep. Without a measure, or when it is NULL
    (decimal overflow), the exact test is that no old row is gone."""
    def value(frame: DataFrame):
        return None if measure is None else frame.agg(measure).first()[0]

    rounds = supersteps(state, step, max_iter)
    old = next(rounds)
    prev = value(old)
    for new in rounds:
        cur = value(new)
        if cur is not None and prev is not None:
            converged = cur == prev
        else:
            converged = not old.subtract(new).take(1)
        if converged:
            return new
        old, prev = new, cur
    raise RuntimeError(
        f"{name} did not reach its fixpoint in max_iter={max_iter} "
        f"supersteps")
