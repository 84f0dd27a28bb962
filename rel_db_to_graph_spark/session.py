"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[$SPARK_GRAFT_CPUS]; the same config keys are
the ones that matter on a 1000-executor cluster:

  * AQE on — runtime coalescing of shuffle partitions, skew-join
    splitting, and dynamic broadcast conversion. At 100 TB the static
    shuffle-partition number is always wrong for some stage; AQE fixes
    it per-stage.
  * AQE also coalesces cached plans
    (``optimizer.canChangeCachedPlanOutputPartitioning``; off by default
    in Spark). Without it every ``persist()``/``cache()`` keeps all
    ``shuffle.partitions`` partitions however small the frame is, and
    each later read of the cache pays one task per empty-ish partition.
    With it, a persisted frame is sized from its measured shuffle bytes,
    still bounded by AQE's min/advisory partition sizes. The trade-off:
    a cached frame no longer promises the hash layout of its last
    exchange, so a consumer that relied on that layout may plan one
    extra exchange.
  * shuffle.partitions — sized for the local test data; on a real
    cluster this is ~2-3x total cores (AQE coalesces down).
  * Arrow on — every pandas_udf / mapInPandas / toPandas boundary is
    Arrow-batched (the multimodal + GNN paths rely on it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "rel_db_to_graph_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE right-size persisted frames too; without it every
        # cache keeps shuffle.partitions partitions (see module doc)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # harmless for the current timestamp[us] events.parquet; kept so a
        # TIMESTAMP(NANOS) regeneration loads as long instead of failing
        # the scan (operators/events.py::ts_micros handles both encodings)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
