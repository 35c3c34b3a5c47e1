"""Schema system: the reference's protobuf message model as Spark StructTypes,
plus the driver-provided testdata star schema.

Reference model (protobufs/src/main/protobuf/messages.proto):
  SensorData(sensorID:int32, temperature:double)            messages.proto:26-29
  TemperatureControl(sensorID, desired, upDelta, downDelta) messages.proto:18-23
  HeaterControl(sensorID, command:HeaterCommand)            messages.proto:12-15
  HeaterCommand enum: On = 0, Off = 1                       messages.proto:6-9

We add ``event_time``/``seq`` columns (FIXTURES.md F1/F2): the reference has no
event-time at all (every impl is arrival-order), so deterministic replay needs
explicit ordering columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# HeaterCommand enum (messages.proto:6-9) — note inverted-looking numbering.
HEATER_ON = 0
HEATER_OFF = 1

SENSOR_DATA_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.IntegerType(), False),
        T.StructField("temperature", T.DoubleType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)

TEMPERATURE_CONTROL_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.IntegerType(), False),
        T.StructField("desired", T.DoubleType(), False),
        T.StructField("up_delta", T.DoubleType(), False),
        T.StructField("down_delta", T.DoubleType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)

HEATER_CONTROL_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.IntegerType(), False),
        T.StructField("command", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)

#: Tagged-union schema replacing the reference's UnifiedDataModel case class
#: (DataModelTransform.scala:7): one row per record, record_type discriminator,
#: nullable per-side payload structs.
UNIFIED_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.IntegerType(), False),
        T.StructField("record_type", T.StringType(), False),  # 'control' | 'sensor'
        T.StructField("temperature", T.DoubleType(), True),
        T.StructField("desired", T.DoubleType(), True),
        T.StructField("up_delta", T.DoubleType(), True),
        T.StructField("down_delta", T.DoubleType(), True),
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)

#: Columns stored as TIMESTAMP(NANOS) in the driver parquet. Spark reads them
#: as long (nanosAsLong); we truncate to micros — exactly what DuckDB does
#: when casting TIMESTAMP_NS to its micro-resolution TIMESTAMP.
TIMESTAMP_NANOS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md), restoring
    nano-timestamp columns to TimestampType (see TIMESTAMP_NANOS_COLS)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in TIMESTAMP_NANOS_COLS.get(name, ()):
        if col not in df.columns:
            continue
        dt = df.schema[col].dataType
        if isinstance(dt, T.LongType):  # TIMESTAMP(NANOS) read as long
            df = df.withColumn(col, F.timestamp_micros(F.floor(F.col(col) / 1000).cast("long")))
        elif isinstance(dt, T.TimestampNTZType):  # micros, no TZ: session is UTC
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
