"""Stream-static control join (SURVEY §2.3 J3 idiomatic form): hysteresis
actions from a broadcast control table, refreshed by swapping the table."""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
import pytest

from fdp_dynamically_controlled_streams_spark.sources.registry import (
    replay_dir,
    write_replay_chunks,
)
from fdp_dynamically_controlled_streams_spark.streaming.drain import drain
from fdp_dynamically_controlled_streams_spark.streaming.static_join import (
    controller_stream_static,
    latest_control_table,
)

SENSOR_DDL = "sensor_id int, temperature double, seq long"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dcs-ssj-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_control(spark, path, rows):
    pdf = pd.DataFrame(
        rows, columns=["sensor_id", "desired", "up_delta", "down_delta", "seq"]
    ).astype({"sensor_id": "int32", "seq": "int64"})
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)


def _run(spark, tmp, control_rows, sensor_rows):
    control_path = f"{tmp}/control"
    _write_control(spark, control_path, control_rows)
    pdf = pd.DataFrame(sensor_rows, columns=["sensor_id", "temperature", "seq"]).astype(
        {"sensor_id": "int32", "seq": "int64"}
    )
    n = max(len(pdf) // 2, 1)
    write_replay_chunks(
        [pdf.iloc[i : i + n] for i in range(0, len(pdf), n)], f"{tmp}/replay"
    )
    stream = replay_dir(spark, f"{tmp}/replay", SENSOR_DDL, files_per_trigger=1)
    out = controller_stream_static(spark, stream, control_path)
    collected: list = []
    drain(
        out,
        lambda bdf, bid: collected.extend(bdf.collect()),
        f"{tmp}/chk",
    )
    return sorted((r.sensor_id, r.command, r.seq) for r in collected)


def test_actions_from_latest_setting(spark, tmpdir):
    control = [
        (1, 50.0, 1.0, 1.0, 0),  # superseded by seq=2
        (1, 45.0, 1.0, 1.0, 2),  # effective: band [44, 46]
        (2, 60.0, 1.0, 1.0, 1),  # band [59, 61]
    ]
    sensors = [
        (1, 50.0, 10),  # > 46 -> Off(1)
        (1, 45.5, 11),  # in band -> filtered
        (1, 40.0, 12),  # < 44 -> On(0)
        (2, 70.0, 13),  # -> Off(1)
        (3, 99.0, 14),  # no control row -> dropped (reference guard)
    ]
    got = _run(spark, tmpdir, control, sensors)
    assert got == [(1, 0, 12), (1, 1, 10), (2, 1, 13)]


def test_latest_control_is_max_by_seq(spark):
    control = [(1, 50.0, 1.0, 2.0, 0), (1, 45.0, 0.5, 1.5, 5), (2, 60.0, 1.0, 1.0, 3)]
    pdf = pd.DataFrame(
        control, columns=["sensor_id", "desired", "up_delta", "down_delta", "seq"]
    )
    got = {
        r.sensor_id: (r.desired, r.up_delta, r.down_delta)
        for r in latest_control_table(spark.createDataFrame(pdf)).collect()
    }
    assert got == {1: (45.0, 0.5, 1.5), 2: (60.0, 1.0, 1.0)}


def test_control_refresh_by_table_swap(spark, tmpdir):
    # the operational point of this form: update the TABLE, not the query.
    # (plain parquet freezes per-start; a transactional table format would
    # pick the swap up per micro-batch without the restart)
    control_path = f"{tmpdir}/control"
    _write_control(spark, control_path, [(1, 45.0, 1.0, 1.0, 0)])
    pdf = pd.DataFrame([(1, 50.0, 1)], columns=["sensor_id", "temperature", "seq"]).astype(
        {"sensor_id": "int32", "seq": "int64"}
    )
    write_replay_chunks([pdf], f"{tmpdir}/replay")
    stream = replay_dir(spark, f"{tmpdir}/replay", SENSOR_DDL, files_per_trigger=1)

    def run_once(chk):
        collected: list = []
        drain(
            controller_stream_static(spark, stream, control_path),
            lambda bdf, bid: collected.extend(bdf.collect()),
            chk,
        )
        return [(r.sensor_id, r.command, r.seq) for r in collected]

    assert run_once(f"{tmpdir}/chk1") == [(1, 1, 1)]  # 50 > 46 -> Off
    _write_control(spark, control_path, [(1, 60.0, 1.0, 1.0, 7)])  # band [59, 61]
    assert run_once(f"{tmpdir}/chk2") == [(1, 0, 1)]  # 50 < 59 -> On
