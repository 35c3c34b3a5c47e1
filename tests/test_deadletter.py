"""Dead-letter split (P6): batch partition exactness + streaming capture of
corrupt protobuf payloads across micro-batches."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fdp_dynamically_controlled_streams_spark.functions.protowire import (
    decode_sensor_udf,
    encode_sensor_data,
)
from fdp_dynamically_controlled_streams_spark.operators.deadletter import (
    dead_letter_batch_writer,
    split_records,
)
from fdp_dynamically_controlled_streams_spark.sources.registry import (
    replay_dir,
    write_replay_chunks,
)
from fdp_dynamically_controlled_streams_spark.streaming.drain import drain


def test_split_partitions_exactly(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0), (4, None)], "id int, v double"
    )
    good, dead = split_records(df, F.col("v") > 0)
    assert sorted(r.id for r in good.collect()) == [1]
    assert sorted(r.id for r in dead.collect()) == [2, 3, 4]  # null AND false
    assert good.count() + dead.count() == df.count()


def test_streaming_dead_letter_captures_corrupt_payloads(spark, tmp_path):
    # wire bytes: 2 valid sensor readings + 2 corrupt payloads per chunk shape
    valid = [encode_sensor_data(1, 42.5), encode_sensor_data(2, 55.0)]
    chunks = [
        pd.DataFrame({"value": [valid[0], b"\xff\xff\xff"], "seq": [0, 1]}),
        pd.DataFrame({"value": [b"", valid[1]], "seq": [2, 3]}),
    ]
    write_replay_chunks(chunks, str(tmp_path / "data"))
    stream = replay_dir(
        spark, str(tmp_path / "data"), "value binary, seq long", files_per_trigger=1
    )
    decoded = stream.select(
        decode_sensor_udf("value").alias("d"), "value", "seq"
    ).select("d.sensor_id", "d.temperature", "value", "seq")

    good_rows: list = []
    fb = dead_letter_batch_writer(
        lambda gdf, bid: good_rows.extend(gdf.collect()),
        F.col("sensor_id") >= 0,
        str(tmp_path / "dead"),
    )
    drain(decoded, fb, str(tmp_path / "chk"))

    # empty bytes are a LEGAL proto3 message (all defaults) -> good branch
    assert sorted((r.sensor_id, r.temperature) for r in good_rows) == [
        (0, 0.0),
        (1, 42.5),
        (2, 55.0),
    ]
    dead = spark.read.parquet(str(tmp_path / "dead")).collect()
    # note: empty bytes decode to proto3 defaults -> sensor_id 0 is VALID;
    # only the truly malformed payload lands in the dead letter.
    assert [(r.seq, r.batch_id is not None) for r in dead] == [(1, True)]
