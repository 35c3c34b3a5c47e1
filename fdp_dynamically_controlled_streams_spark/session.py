"""SparkSession factory tuned for the engine's 100 TB design posture.

Defaults chosen for scale (AQE on, skew-join handling, Arrow batches) while
remaining correct on local[N] test runs. The reference's session setup
(SparkStructuredController.scala:27-31) is the ancestor: local master + Kryo +
checkpoint dir; we keep the shape but let every knob be overridden.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
INITIAL_PARTITIONS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

#: Configs that define the engine's scale posture. On a real cluster the same
#: dict ships unchanged; only master/memory/executor counts differ.
ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-plan, partition coalescing, skew-join split.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / applyInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast threshold: dims like region/nation/supplier must broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scan sizing: at 100 TB this bounds per-task input; harmless locally.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Streaming state at large key spaces: RocksDB, not the in-memory HDFS store.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # Batch shuffles start at 32 partitions, which AQE coalesces; streaming
    # state partitions are sized to the slots in engine_conf.
    INITIAL_PARTITIONS: "32",
    # Testdata parquet carries TIMESTAMP(NANOS) which Spark has no native type
    # for; read as long and convert in schemas.load_table (micros truncation,
    # matching DuckDB's TIMESTAMP_NS -> TIMESTAMP behavior).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Long-lived-session hygiene: the app-status store retains execution/job/
    # stage metadata even with the UI off (measured: ~1 GB driver heap after
    # ~280 catalog queries in one session). A bounded window keeps steady-
    # state heap flat on sessions that run thousands of queries.
    "spark.sql.ui.retainedExecutions": "50",
    "spark.ui.retainedJobs": "200",
    "spark.ui.retainedStages": "200",
    "spark.ui.retainedTasks": "5000",
}


def engine_conf(
    slots: int,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The session conf for a context with ``slots`` task slots.

    Batch and streaming shuffles read different keys. With AQE coalescing
    on, a batch shuffle starts at ``INITIAL_PARTITIONS`` and AQE merges the
    small ones. Structured Streaming turns AQE off, so a stateful operator
    runs on exactly ``SHUFFLE_PARTITIONS`` state partitions. Each is one
    task per micro-batch with a fixed cost (state-store load and commit,
    Python-worker round trip), so a micro-batch costs about that fixed cost
    x partitions plus a per-key cost (see streaming/controller.py). One
    partition per slot runs all state tasks in one wave. The count is pinned
    when a query's checkpoint is created; a restarted query keeps it.

    An explicit ``shuffle_partitions``, or a ``SHUFFLE_PARTITIONS`` entry in
    ``extra_conf``, sets both keys unless ``extra_conf`` names
    ``INITIAL_PARTITIONS`` as well.
    """
    conf = {**ENGINE_CONF, SHUFFLE_PARTITIONS: str(slots)}
    if shuffle_partitions is not None:
        conf[SHUFFLE_PARTITIONS] = conf[INITIAL_PARTITIONS] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
        if SHUFFLE_PARTITIONS in extra_conf and INITIAL_PARTITIONS not in extra_conf:
            conf[INITIAL_PARTITIONS] = extra_conf[SHUFFLE_PARTITIONS]
    return conf


def batch_partitions(spark: SparkSession) -> int:
    """Partition count a batch shuffle starts at: the initial AQE count, or
    the shuffle-partitions count on a session that does not set it (the
    same fallback Spark applies)."""
    initial = spark.conf.get(INITIAL_PARTITIONS, None)
    return int(initial or spark.conf.get(SHUFFLE_PARTITIONS))


def get_spark(
    app_name: str = "fdp-dcs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) — on a cluster, pass the real master or leave it to
    spark-submit by passing ``master=""``. Streaming state partitions
    default to the context's ``defaultParallelism`` (see ``engine_conf``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    # Static settings take effect only when the context starts, and the slot
    # count is known only once it has: start on the engine conf, then set the
    # partition counts sized to the context's slots.
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    conf = engine_conf(spark.sparkContext.defaultParallelism, shuffle_partitions, extra_conf)
    for k in (SHUFFLE_PARTITIONS, INITIAL_PARTITIONS):
        spark.conf.set(k, conf[k])
    return spark
