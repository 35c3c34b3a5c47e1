"""The one availableNow drain every finite stream in the package runs
through: start the query with a ``foreachBatch`` sink and an
``availableNow`` trigger over a checkpoint, wait until it has consumed
everything, and fail loudly otherwise — a stalled query is stopped and
raises instead of handing back partial output, and a query that failed
re-raises its exception.

Reference lineage: the reference drives its query with one
``writeStream…checkpointLocation…trigger`` shape
(SparkStructuredController.scala:80-86); the finite replays keep that
shape with ``availableNow`` in place of the processing-time trigger.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@contextlib.contextmanager
def _replay_conf(spark: SparkSession, partitions: int):
    """Per-streaming-query deploy conf for the finite file replays: state
    partition count sized to the replay's key cardinality, and the
    HDFS-backed (in-memory + snapshot) state store instead of the session's
    RocksDB default — RocksDB is the right posture for 100 TB key spaces
    (session.ENGINE_CONF), but each instance pays open/commit overhead per
    store per partition per micro-batch, which dominates a small replay.
    Both settings are read at query start and restored after."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_prov = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev_prov)


def _await_drain(q, timeout_s: float = 300) -> None:
    """Wait for an availableNow query to drain, so that a caller never
    sees partial output: on timeout, stop the query and raise; a query
    that failed raises its exception."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"streaming query {q.id} did not drain in {timeout_s} s")
    exc = q.exception()
    if exc is not None:
        raise exc


def drain(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "append",
    partitions: int | None = None,
) -> None:
    """Run the streaming ``df`` to exhaustion: every micro-batch goes to
    ``sink(batch_df, batch_id)``, progress is checkpointed at
    ``checkpoint``, and the call returns only once the query has drained
    (see :func:`_await_drain`). With ``partitions``, the query starts and
    runs under :func:`_replay_conf`; without, under the caller's conf —
    the wait stays inside the conf because sinks that read or write
    through the caller's session run while the query does."""
    conf = (
        _replay_conf(df.sparkSession, partitions)
        if partitions is not None
        else contextlib.nullcontext()
    )
    with conf:
        q = (
            df.writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q)


def _read_replay_out(
    spark: SparkSession, schema: str | StructType, path: str
) -> DataFrame:
    """Read back a replay sink directory. A replay that produced zero
    micro-batches never creates the directory — return an empty typed frame
    instead of raising PATH_NOT_FOUND."""
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def drain_to_parquet(
    df: DataFrame,
    tmp: str,
    output_mode: str = "append",
    partitions: int | None = None,
) -> DataFrame:
    """:func:`drain` with the replays' usual sink: every micro-batch is
    appended to ``{tmp}/out`` by the executors (never a driver collect —
    SCALE.md rule 1), the checkpoint is ``{tmp}/chk``, and the result is
    a lazy read of the output directory with ``df``'s schema."""
    out = f"{tmp}/out"
    drain(
        df,
        lambda bdf, _bid: bdf.write.mode("append").parquet(out),
        f"{tmp}/chk",
        output_mode=output_mode,
        partitions=partitions,
    )
    return _read_replay_out(df.sparkSession, df.schema, out)
