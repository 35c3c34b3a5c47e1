"""End-to-end Kafka integration (S1 + K1 + O1/O2/O4), mirroring the
reference's manual KafkaLocalServer harness
(support/.../KafkaLocalServer.scala:19-114) as an automated, gated test.

Gates (both must hold, else the test SKIPS with the reason):
  * the spark-sql-kafka connector JAR is on the classpath (it is public
    Maven; this container has no network, so CI skips);
  * a reachable broker, opted in via SPARK_GRAFT_KAFKA_BOOTSTRAP
    (e.g. "localhost:9092").

The flow is the reference pipeline end to end: protobuf-encoded
TemperatureControl + SensorData produced to two topics, the streaming
controller consumes both (earliest offsets, no-fail-on-loss,
SparkStructuredController.scala:42-53), emits HeaterControl bytes back to an
output topic with checkpointing, and the decoded output must equal the batch
twin on the same records.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest

from pyspark.sql import functions as F

BOOTSTRAP = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")


def _kafka_connector_loaded(spark) -> bool:
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "gate:1"
        ).option("subscribe", "gate").load()
        return True
    except Exception as exc:  # noqa: BLE001
        msg = str(exc)
        if "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg:
            return False
        return True  # loaded; the error is about the fake broker/options


@pytest.fixture(scope="module")
def kafka_gate(spark):
    if not _kafka_connector_loaded(spark):
        pytest.skip("spark-sql-kafka connector JAR not on classpath")
    if not BOOTSTRAP:
        pytest.skip("no broker: set SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port to run")
    return BOOTSTRAP


def test_controller_roundtrip_through_real_topics(spark, kafka_gate):
    from fdp_dynamically_controlled_streams_spark.functions.protowire import (
        decode_sensor_udf,
        encode_sensor_data_udf,
        encode_temperature_control_udf,
    )
    from fdp_dynamically_controlled_streams_spark.operators.controller import (
        controller_batch,
        controller_inputs_from_events,
    )
    from fdp_dynamically_controlled_streams_spark.schemas import load_table
    from fdp_dynamically_controlled_streams_spark.sources.registry import read_stream

    run = uuid.uuid4().hex[:8]
    t_control, t_sensor, t_out = (f"dcs-{run}-{x}" for x in ("ctl", "sns", "out"))
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    control, sensor = controller_inputs_from_events(events)

    # K1 produce: batch write through the Kafka sink (key = sensor id for
    # per-key ordering, exactly the reference's partitioning contract).
    (
        control.select(
            F.col("sensor_id").cast("string").alias("key"),
            encode_temperature_control_udf(
                "sensor_id", "desired", "up_delta", "down_delta"
            ).alias("value"),
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", kafka_gate)
        .option("topic", t_control)
        .save()
    )
    (
        sensor.select(
            F.col("sensor_id").cast("string").alias("key"),
            encode_sensor_data_udf("sensor_id", "temperature").alias("value"),
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", kafka_gate)
        .option("topic", t_sensor)
        .save()
    )

    # S1 consume -> controller -> K1 produce, checkpointed (O4), availableNow
    # (the finite twin of the reference's 1 s trigger, O2).
    from fdp_dynamically_controlled_streams_spark.operators.controller import (
        unify_streams,
    )
    from fdp_dynamically_controlled_streams_spark.functions.protowire import (
        decode_control_udf,
        encode_heater_control_udf,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.controller import (
        controller_streaming,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.drain import _await_drain

    tmp = tempfile.mkdtemp(prefix="dcs-kafka-")
    raw_control = read_stream(
        spark,
        "kafka",
        **{"kafka.bootstrap.servers": kafka_gate, "subscribe": t_control},
    )
    raw_sensor = read_stream(
        spark,
        "kafka",
        **{"kafka.bootstrap.servers": kafka_gate, "subscribe": t_sensor},
    )
    c = raw_control.select(decode_control_udf("value").alias("d"), "offset").select(
        "d.sensor_id", "d.desired", "d.up_delta", "d.down_delta",
        F.col("offset").alias("seq"),
    )
    s = raw_sensor.select(decode_sensor_udf("value").alias("d"), "offset").select(
        "d.sensor_id", "d.temperature", F.col("offset").alias("seq")
    )
    q = (
        controller_streaming(unify_streams(c, s))
        .select(
            F.col("sensor_id").cast("string").alias("key"),
            encode_heater_control_udf("sensor_id", "command").alias("value"),
        )
        .writeStream.outputMode("update")
        .format("kafka")
        .option("kafka.bootstrap.servers", kafka_gate)
        .option("topic", t_out)
        .option("checkpointLocation", f"{tmp}/chk")
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, 300)

    # Read back the emitted HeaterControl bytes and compare command counts
    # with the batch twin (per-key totals are replay-order invariant).
    out = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", kafka_gate)
        .option("subscribe", t_out)
        .option("startingOffsets", "earliest")
        .load()
    )
    from fdp_dynamically_controlled_streams_spark.functions.protowire import (
        decode_heater_control,
    )

    got = sorted(
        decode_heater_control(bytes(r.value))
        for r in out.select("value").collect()
    )
    want = sorted(
        (r.sensor_id, r.command)
        for r in controller_batch(control, sensor).collect()
    )
    assert got == want
