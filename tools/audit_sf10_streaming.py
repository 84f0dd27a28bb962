"""sf10 streaming scale probe (round 10, VERDICT r9 ask 7): the batch
tier has sf10 evidence, streaming didn't. Drives the three stateful
streaming shapes over a 10x feed (benchdata/sf10 events: 10M rows,
30 days, 150k users — build with `python tools/make_sf1.py 100 sf10`)
split into N time-range files with strictly increasing mtimes, so the
file source (oldest-mtime-first, maxFilesPerTrigger=1) delivers N real
event-time-ordered micro-batches and the 2h watermark actually ADVANCES
between batches — the production regime where eviction does its job,
unlike the registry's single-batch availableNow drains.

Probes and what "watermark-bounded" must look like:
  * hourly agg, UPDATE mode (production config; the registry's
    complete-mode drain retains all state by definition): state rows =
    open (window x event_type) groups within the watermark horizon —
    a PLATEAU at ~(2h+1h)/1h x |event types| rows per batch, not a
    30-day accumulation (~720 x |types|).
  * stream-stream interval join, APPEND: state = both sides' rows
    within watermark(+10 min window) of the per-batch max event time.
    With 3-day batches the horizon is a tiny fraction of a batch; the
    plateau is O(rows/2h-of-stream), independent of stream length.
  * applyInPandasWithState sessionizer, UPDATE, NoTimeout: state rows
    = |distinct users seen| — grows to 150k and stays (keyed state with
    NoTimeout is bounded by key cardinality, not stream length; a
    production deployment would add a timeout to evict idle users —
    recorded here as the honest contrast with the watermarked shapes).

Prints one JSON line per probe:
  {"probe": ..., "batches": n, "state_rows_per_batch": [...],
   "rows_out": n, "secs": s}
Run from OUTSIDE the repo: `python <checkout>/tools/audit_sf10_streaming.py`.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF10_DIR",
                        os.path.join(ROOT, "benchdata", "sf10"))
FEED = "/tmp/sf10_stream_feed"
N_FILES = 10


def build_feed(spark) -> None:
    """Split sf10 events into N_FILES contiguous time ranges, one file
    each, mtimes strictly increasing (the stream_variants recipe — the
    file source orders by modification time)."""
    from pyspark.sql import functions as F

    if os.path.isdir(FEED):
        shutil.rmtree(FEED)
    os.makedirs(FEED)
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / N_FILES
    for i in range(N_FILES):
        a = lo + i * span
        b = hi if i == N_FILES - 1 else lo + (i + 1) * span
        cond = (F.col("ts") >= F.lit(a)) & (
            F.col("ts") <= F.lit(b) if i == N_FILES - 1
            else F.col("ts") < F.lit(b))
        part = ev.filter(cond).coalesce(1)
        tmp = f"{FEED}/_part{i}"
        part.write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = f"{FEED}/events_{i:02d}.parquet"
        shutil.move(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (i * 1000, i * 1000))


def read_feed_stream(spark):
    from pyspark.sql import functions as F

    from rel_db_to_graph_spark.streaming.events import EVENTS_SCHEMA

    return (spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "events_*.parquet")
            .parquet(FEED)
            .withColumn("event_time", F.col("ts")))


def drain(stream_df, name: str, mode: str) -> dict:
    t0 = time.time()
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination()
    secs = time.time() - t0
    state = []
    for p in q.recentProgress:
        ops = p.get("stateOperators") or []
        if ops:
            state.append(int(ops[0].get("numRowsTotal", -1)))
    spark = stream_df.sparkSession
    rows = spark.table(name).count()
    return {"probe": name, "batches": len(q.recentProgress),
            "state_rows_per_batch": state, "rows_out": rows,
            "secs": round(secs, 1)}


def main() -> None:
    from rel_db_to_graph_spark import get_spark
    from rel_db_to_graph_spark.streaming.events import hourly_counts_stream
    from rel_db_to_graph_spark.streaming.join import attribution_pairs_stream
    from rel_db_to_graph_spark.streaming.stateful import (
        running_user_sessions,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    want = set(sys.argv[1:])

    def skip(name):
        return want and name not in want

    build_feed(spark)

    # production UPDATE mode (not the registry's complete): eviction on
    if not skip("agg_update"):
        out = drain(hourly_counts_stream(read_feed_stream(spark)),
                    "agg_update", "update")
        print(json.dumps(out), flush=True)

    if not skip("interval_join"):
        out = drain(attribution_pairs_stream(read_feed_stream(spark)),
                    "interval_join", "append")
        print(json.dumps(out), flush=True)

    if not skip("sessions"):
        out = drain(running_user_sessions(read_feed_stream(spark)),
                    "sessions", "update")
        print(json.dumps(out), flush=True)

    # round 11: the built-in F.session_window production sessionizer —
    # same feed, session-level output, JVM-side merge/state/eviction.
    # The throughput contrast with the applyInPandasWithState row above
    # is the VERDICT r10 missing-#2 measurement (per-key Python
    # dispatch vs whole-stage JVM).
    if not skip("sessions_builtin"):
        from rel_db_to_graph_spark.streaming.stateful import (
            session_windows_stream,
        )
        out = drain(session_windows_stream(read_feed_stream(spark)),
                    "sessions_builtin", "append")
        print(json.dumps(out), flush=True)

    # round 10: the EventTimeTimeout variant — state should DROP from
    # |keys ever| (150k) to ~|keys active within watermark+timeout of
    # each batch's max event time| (eviction working)
    if not skip("sessions_timeout"):
        out = drain(running_user_sessions(read_feed_stream(spark),
                                          idle_timeout_minutes=360),
                    "sessions_timeout", "update")
        print(json.dumps(out), flush=True)

    # cdc_partitioned (round 10): the bucket-partitioned maintainer vs
    # the in-memory one. Two feeds, honestly: (a) key-CLUSTERED batches
    # (repartitionByRange on the bucket — the backfill/upsert-by-range
    # regime) where each batch touches ~1/N of the buckets and per-batch
    # cost must track the touched fraction, not the snapshot; (b) fully
    # SHUFFLED batches (every batch touches every bucket) — the worst
    # case, expected to LOSE to the in-memory maintainer (it rewrites
    # all directories to parquet instead of checkpointing to memory).
    if not skip("cdc_partitioned"):
        from pyspark.sql import functions as F

        from rel_db_to_graph_spark.operators.increment import snapshot_diff
        from rel_db_to_graph_spark.queries import _cdc_snapshots
        from rel_db_to_graph_spark.streaming.cdc import (
            PartitionedSnapshotMaintainer,
        )

        nb = 64
        old, new = _cdc_snapshots(spark, SF_DIR)
        old = old.localCheckpoint(eager=True)
        new = new.localCheckpoint(eager=True)
        changes = (snapshot_diff(old, new, "o_orderkey")
                   .join(new, "o_orderkey", "left")
                   .localCheckpoint(eager=True))
        bcol = F.pmod(F.xxhash64("o_orderkey"), F.lit(nb)).cast("int")
        for tag, feed_df in (
                ("clustered",
                 changes.withColumn("_fb", bcol)
                 .repartitionByRange(N_FILES, "_fb").drop("_fb")),
                ("shuffled", changes.repartition(N_FILES))):
            feed = f"/tmp/sf10_cdcp_feed_{tag}"
            if os.path.isdir(feed):
                shutil.rmtree(feed)
            feed_df.write.parquet(feed)
            stream = (spark.readStream.schema(changes.schema)
                      .option("maxFilesPerTrigger", 1).parquet(feed))
            snap_path = f"/tmp/sf10_cdcp_snap_{tag}"
            if os.path.isdir(snap_path):
                shutil.rmtree(snap_path)
            sink = PartitionedSnapshotMaintainer(
                spark, old, snap_path, "o_orderkey", n_buckets=nb)
            batch_secs: list[float] = []
            touched_per_batch: list[int] = []

            def timed(batch, batch_id, _s=sink, _bs=batch_secs,
                      _tb=touched_per_batch):
                _tb.append(batch.select(
                    F.pmod(F.xxhash64("o_orderkey"), F.lit(nb))
                    .cast("int").alias("b")).distinct().count())
                t = time.time()
                _s.apply_batch(batch, batch_id)
                _bs.append(round(time.time() - t, 1))

            t0 = time.time()
            q = (stream.writeStream.foreachBatch(timed)
                 .trigger(availableNow=True)
                 .option("checkpointLocation",
                         f"/tmp/sf10_cdcp_ckpt_{tag}_{int(t0)}")
                 .start())
            q.awaitTermination()
            snap = sink.current()
            print(json.dumps({
                "probe": f"cdc_partitioned_{tag}", "n_buckets": nb,
                "batches": len(batch_secs),
                "touched_buckets_per_batch": touched_per_batch,
                "per_batch_secs": batch_secs,
                "final_rows": snap.count(),
                "matches_new": snap.exceptAll(new).isEmpty()
                and new.exceptAll(snap).isEmpty(),
                "secs": round(time.time() - t0, 1)}), flush=True)

    # cdc_stream (the foreachBatch snapshot-maintenance path): a
    # 10-file sf10 change feed applied to a 13.5M-row base snapshot.
    # There is no state STORE here — per-batch cost is the honest
    # metric: merge_upsert re-materializes the snapshot per batch
    # (anti-join + union + localCheckpoint), so each batch is
    # O(snapshot), the documented foreachBatch trade-off without a
    # lakehouse MERGE; the number to watch is that per-batch time is
    # FLAT across batches (no lineage growth — the eager checkpoint
    # cuts it).
    if skip("cdc_stream"):
        return
    from rel_db_to_graph_spark.operators.increment import snapshot_diff
    from rel_db_to_graph_spark.queries import _cdc_snapshots

    old, new = _cdc_snapshots(spark, SF_DIR)
    old = old.localCheckpoint(eager=True)
    changes = (snapshot_diff(old, new, "o_orderkey")
               .join(new, "o_orderkey", "left"))
    cdc_feed = "/tmp/sf10_cdc_feed"
    if os.path.isdir(cdc_feed):
        shutil.rmtree(cdc_feed)
    changes.repartition(N_FILES).write.parquet(cdc_feed)
    stream = (spark.readStream.schema(changes.schema)
              .option("maxFilesPerTrigger", 1).parquet(cdc_feed))
    t0 = time.time()
    batch_secs: list[float] = []

    class _TimedSink:
        def __init__(self, inner):
            self.inner = inner
            self._last = time.time()

        def apply_batch(self, batch, batch_id):
            self.inner.apply_batch(batch, batch_id)
            now = time.time()
            batch_secs.append(round(now - self._last, 1))
            self._last = now

    from rel_db_to_graph_spark.streaming.cdc import SnapshotMaintainer
    sink = _TimedSink(SnapshotMaintainer(old, "o_orderkey"))
    q = (stream.writeStream.foreachBatch(sink.apply_batch)
         .trigger(availableNow=True)
         .option("checkpointLocation", "/tmp/sf10_cdc_ckpt_"
                 + str(int(t0)))
         .start())
    q.awaitTermination()
    snap = sink.inner.current()
    print(json.dumps({
        "probe": "cdc_stream", "batches": len(batch_secs),
        "per_batch_secs": batch_secs,
        "final_rows": snap.count(),
        "matches_new": snap.exceptAll(new).isEmpty()
        and new.exceptAll(snap).isEmpty(),
        "secs": round(time.time() - t0, 1)}), flush=True)


if __name__ == "__main__":
    main()
