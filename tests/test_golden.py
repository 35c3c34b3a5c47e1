"""Golden closed-loop scenario + property tests (SURVEY §5.2).

Golden: deterministic replay of the reference Heater physics
(heater/.../Heater.scala:49-66,72-86 constants: start 42.0, desired 45.0,
deltas 1.0, temp +interval/1min when On / -interval/2min when Off, one reading
per 10 s) through both controller runtimes; the expected command sequence is
computed by an independent pure-Python interpreter of the spec
(SparkStructuredController.scala:96-118), not by either implementation under
test.

Properties (hypothesis): for random interleavings of control/sensor/garbage
records, the batch controller (i) equals the reference interpreter exactly,
(ii) never emits two consecutive equal commands per key, (iii) never emits
before a key's first control record, and (iv) never emits for in-band
readings or bad records.
"""

from __future__ import annotations

from dataclasses import dataclass

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fdp_dynamically_controlled_streams_spark.operators.controller import (
    controller_batch,
)

# Reference Heater constants (Heater.scala:19,24-26; StreamsConfig.scala:14-16).
SENSOR_ID = 12345
START_TEMP = 42.0
DESIRED = 45.0
DELTA = 1.0
TICK_S = 10.0
UP_RATE_S = 60.0     # heating: +interval/upRate per tick when On
DOWN_RATE_S = 120.0  # cooling: -interval/downRate per tick when Off
ON, OFF = 0, 1      # HeaterCommand enum (messages.proto:6-9)


# --- independent reference interpreter of controlTemperature ---------------

@dataclass
class _State:
    has_setting: bool = False
    desired: float = 0.0
    up: float = 0.0
    down: float = 0.0
    last_action: int = -1


def reference_controller(records) -> list[tuple[int, int, int]]:
    """records: (sensor_id, kind, payload, seq) sorted by (seq, kind);
    kind 0 = control (payload = (desired, up, down)), 1 = sensor (payload =
    temperature). Returns emitted (sensor_id, command, seq)."""
    states: dict[int, _State] = {}
    out = []
    for sensor_id, kind, payload, seq in sorted(
        records, key=lambda r: (r[3], r[1])
    ):
        if sensor_id < 0:
            continue  # P4 bad-record filter
        s = states.setdefault(sensor_id, _State())
        if kind == 0:
            s.desired, s.up, s.down = payload
            s.has_setting = True
        elif s.has_setting:
            t = payload
            action = (
                 1 if t > s.desired + s.up
                 else (0 if t < s.desired - s.down else -1)
            )
            if action >= 0 and action != s.last_action:
                out.append((sensor_id, action, seq))
                s.last_action = action
    return out


def simulate_heater(n_ticks: int):
    """Closed physics loop: each tick publishes the temperature, the
    controller may emit, and the heater obeys the last command (Heater.scala:
    49-57,90-103). Returns (sensor_records, expected_emissions)."""
    st8 = _State(True, DESIRED, DELTA, DELTA, -1)
    temp, operation = START_TEMP, ON  # heater starts heating (Heater.scala:27)
    readings, expected = [], []
    for i in range(n_ticks):
        seq = i + 1
        readings.append((SENSOR_ID, 1, temp, seq))
        action = (
            1 if temp > st8.desired + st8.up
            else (0 if temp < st8.desired - st8.down else -1)
        )
        if action >= 0 and action != st8.last_action:
            expected.append((SENSOR_ID, action, seq))
            st8.last_action = action
            operation = action  # feedback: heater applies the new command
        temp += TICK_S / UP_RATE_S if operation == ON else -TICK_S / DOWN_RATE_S
    return readings, expected


def _run_batch(spark, records):
    control = [
        (sid, p[0], p[1], p[2], seq) for sid, k, p, seq in records if k == 0
    ]
    sensor = [(sid, p, seq) for sid, k, p, seq in records if k == 1]
    cdf = spark.createDataFrame(
        control or [(None, None, None, None, None)],
        "sensor_id int, desired double, up_delta double, down_delta double, seq long",
    )
    if not control:
        cdf = cdf.where("sensor_id IS NOT NULL")
    sdf = spark.createDataFrame(
        sensor or [(None, None, None)],
        "sensor_id int, temperature double, seq long",
    )
    if not sensor:
        sdf = sdf.where("sensor_id IS NOT NULL")
    rows = controller_batch(cdf, sdf).orderBy("seq").collect()
    return [(r.sensor_id, r.command, r.seq) for r in rows]


# --- golden scenario -------------------------------------------------------

def test_golden_heater_closed_loop_batch(spark):
    readings, expected = simulate_heater(n_ticks=120)
    records = [(SENSOR_ID, 0, (DESIRED, DELTA, DELTA), 0)] + readings
    # Sanity on the physics: 42.0 starts below the [44,46] band so the first
    # reading emits On (initial lastValue=-1); then the loop oscillates,
    # commands strictly alternating.
    cmds = [c for _, c, _ in expected]
    assert len(cmds) >= 3
    assert cmds[0] == ON
    assert all(a != b for a, b in zip(cmds, cmds[1:]))
    # The independent interpreter and the Spark batch pipeline agree exactly.
    assert reference_controller(records) == expected
    assert _run_batch(spark, records) == expected


def test_golden_heater_closed_loop_streaming(spark, tmp_path):
    from fdp_dynamically_controlled_streams_spark.operators.controller import (
        unify_streams,
    )
    from fdp_dynamically_controlled_streams_spark.sources.registry import (
        replay_dir,
        write_replay_chunks,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.controller import (
        controller_streaming,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.drain import drain

    readings, expected = simulate_heater(n_ticks=120)
    records = [(SENSOR_ID, 0, (DESIRED, DELTA, DELTA), 0)] + readings
    control = spark.createDataFrame(
        [(sid, p[0], p[1], p[2], seq) for sid, k, p, seq in records if k == 0],
        "sensor_id int, desired double, up_delta double, down_delta double, seq long",
    )
    sensor = spark.createDataFrame(
        [(sid, p, seq) for sid, k, p, seq in records if k == 1],
        "sensor_id int, temperature double, seq long",
    )
    # Replay in 4 micro-batches so state must carry across batch boundaries.
    pdf = unify_streams(control, sensor).orderBy("seq", "record_kind").toPandas()
    n = max(len(pdf) // 4, 1)
    chunks = [pdf.iloc[i : i + n] for i in range(0, len(pdf), n)]
    write_replay_chunks(chunks, str(tmp_path / "data"))
    stream = replay_dir(
        spark,
        str(tmp_path / "data"),
        "sensor_id int, record_kind int, temperature double, "
        "desired double, up_delta double, down_delta double, seq long",
        files_per_trigger=1,
    )
    collected: list = []
    drain(
        controller_streaming(stream),
        lambda bdf, bid: collected.extend(bdf.collect()),
        str(tmp_path / "chk"),
        output_mode="update",
    )
    got = sorted(
        ((r.sensor_id, r.command, r.seq) for r in collected), key=lambda t: t[2]
    )
    assert got == expected


# --- property tests --------------------------------------------------------

_records = st.lists(
    st.tuples(
        st.sampled_from([-1, 1, 2, 3]),                      # sensor_id (incl. bad)
        st.integers(0, 1),                                   # kind
        st.floats(20.0, 70.0, allow_nan=False, width=32),    # payload scalar
        st.integers(1, 40),                                  # seq
    ),
    min_size=0,
    max_size=40,
)


def _materialize(raw):
    # kind 0 -> control with desired=payload, deltas 2.0. control/data ties at
    # one seq are kept (they exercise the control-first ordering rule), but
    # duplicate (sensor, kind, seq) rows are dropped: their relative order is
    # undefined in BOTH the engine (window has no further tie-break) and the
    # interpreter (list order), so they don't define a testable semantics.
    seen, out = set(), []
    for sid, k, p, seq in raw:
        if (sid, k, seq) in seen:
            continue
        seen.add((sid, k, seq))
        out.append((sid, k, (p, 2.0, 2.0) if k == 0 else p, seq))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=_records)
def test_controller_properties(spark, raw):
    records = _materialize(raw)
    # compare under the total order (seq, sensor_id): emissions of DIFFERENT
    # sensors at one seq are causally independent, so their relative order is
    # not part of the semantics (after _materialize, (sensor, seq) is unique
    # per emission, making this a total order on both sides)
    key = lambda t: (t[2], t[0])
    got = sorted(_run_batch(spark, records), key=key)
    # (i) exact equivalence with the independent interpreter
    assert got == sorted(reference_controller(records), key=key)
    # (ii)-(iv) on the output itself
    by_key: dict[int, list] = {}
    for sid, cmd, seq in got:
        by_key.setdefault(sid, []).append((cmd, seq))
        assert sid >= 0, "bad record leaked through P4"
    first_control = {}
    for sid, k, _p, seq in sorted(records, key=lambda r: (r[3], r[1])):
        if k == 0 and sid >= 0 and sid not in first_control:
            first_control[sid] = seq
    for sid, cmds in by_key.items():
        assert sid in first_control, "emitted before any control record"
        assert cmds[0][1] >= first_control[sid]
        assert all(
            a[0] != b[0] for a, b in zip(cmds, cmds[1:])
        ), "consecutive duplicate command"
        assert all(c in (0, 1) for c, _ in cmds), "in-band action leaked"
