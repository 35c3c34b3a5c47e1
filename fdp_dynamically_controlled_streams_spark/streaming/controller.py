"""Streaming controller: the reference's ``controlTemperature`` state machine
(SparkStructuredController.scala:96-118) as an ``applyInPandasWithState``
processor over the tagged-union stream.

Semantics (the spec, shared with operators/controller.py), per sensor in
(seq, record_kind) order, starting with no setting and last_action = -1:

  for record in records:
      if record is control:                      # (:100-103)
          setting := record.setting              # last_action carried
      elif setting exists:                       # (:104-114)
          action := hysteresis(record.temperature, setting)   # 1, 0 or -1
          if action >= 0 and action != last_action:
              emit (sensor_id, action, seq)
          if action >= 0:
              last_action := action

Engine rules on top of the reference:
  * intra-batch ordering is explicit — each sensor's records in a micro-batch
    are sorted by (seq, record_kind) with control first on ties (the
    reference leans on undefined union order, SparkStructuredController.scala
    :69-70 / SURVEY §4.2)
  * state is the managed GroupState (checkpointed) — never a per-task local
    map (the Flink/Kafka-Streams dedup-loss bug, SURVEY §2.4 G3/G4)

Key groups: the query groups by ``key_group = pmod(hash(sensor_id),
KEY_GROUPS)``, not by sensor, and keeps one state value per key group: sorted
parallel arrays (sensor_id, last_action, desired, up_delta, down_delta) over
the group's sensors that have a setting. One handler call runs the spec for
all of a group's sensors in a micro-batch in one vectorized pass.

Scale: PySpark pays about 1.7 ms per handler call whatever its row count
(Arrow->pandas conversion of the group's columns, pd.concat of its output),
while the handler itself takes about 0.3 us per row plus a part that grows
with the group's stored sensors (4.7 ms for 10,000 rows over a group of
4,000 sensors, and 0.8 ms more to unpickle and pickle its state; SCALE.md
rule 7 has end-to-end figures). A micro-batch calls
the handler min(active keys, KEY_GROUPS) times instead of once per active
sensor. State groups are hash-partitioned by the groupBy shuffle into
``spark.sql.shuffle.partitions`` state partitions, which default to the
session's task slots (session.engine_conf); each state partition is one task
per micro-batch with a fixed cost (state-store load and commit, one
Python-worker round trip), about 0.5 s of task time on 4 cores. Trade-offs:
  * at most KEY_GROUPS state tasks have work, whatever the partition count;
  * a touched group rewrites its whole value, so each state write carries
    about keys / KEY_GROUPS sensors (131 KB at 4,000 sensors, where the
    per-sensor layout wrote 0.9 KB for 10 touched sensors);
  * KEY_GROUPS and the partition count are pinned by the checkpoint. The
    plan is rebuilt from Python on every restart, so KEY_GROUPS is a module
    constant rather than a session setting: a restarted query must send its
    keys to the groups its checkpoint holds them in. A checkpoint written by
    the earlier per-sensor state layout fails at start with
    STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE.
With the RocksDB state store, key spaces beyond executor memory are fine.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

#: Number of key groups. Pinned by every checkpoint the query writes.
KEY_GROUPS = 256

#: Output rows: the emitted HeaterControl commands.
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.IntegerType()),
        T.StructField("command", T.IntegerType()),
        T.StructField("seq", T.LongType()),
    ]
)

#: Key-group state: the TemperatureControlWithLastValue carrier
#: (DataModelTransform.scala:39) of each of the group's sensors that has a
#: setting, as parallel arrays sorted by sensor_id.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.ArrayType(T.IntegerType())),
        T.StructField("last_action", T.ArrayType(T.IntegerType())),
        T.StructField("desired", T.ArrayType(T.DoubleType())),
        T.StructField("up_delta", T.ArrayType(T.DoubleType())),
        T.StructField("down_delta", T.ArrayType(T.DoubleType())),
    ]
)

_STATE_DTYPES = (np.int64, np.int64, np.float64, np.float64, np.float64)
_SETTING = ("desired", "up_delta", "down_delta")


def _run_starts(a: np.ndarray) -> np.ndarray:
    """True where ``a`` starts a run of equal values."""
    m = np.empty(len(a), dtype=bool)
    m[:1] = True
    np.not_equal(a[1:], a[:-1], out=m[1:])
    return m


def _advance(
    st: dict[str, np.ndarray], pdf: pd.DataFrame
) -> tuple[dict[str, np.ndarray], tuple[np.ndarray, ...]]:
    """Run the spec over a key group's records of one micro-batch, starting
    from the group's state ``st``. Returns the new state and the emitted
    (sensor_id, command, seq) arrays.

    Records are sorted by (sensor_id, seq, record_kind), so each sensor's
    records form one contiguous segment. Within a segment the sequential
    state machine decomposes into array ops: settings forward-fill from
    control rows (seeded from the stored setting), the hysteresis CASE is a
    nested ``np.where``, and emit-on-change over the ``action>=0``
    subsequence is consecutive-duplicate suppression, seeded from the carried
    last_action (suppressed records equal the previous action by definition,
    so "last emitted" and "last valid" coincide)."""
    sid = pdf["sensor_id"].to_numpy()
    seq = pdf["seq"].to_numpy()
    kind = pdf["record_kind"].to_numpy()
    # Engine ordering rule: control (record_kind 0) before data on seq ties.
    order = np.lexsort((kind, seq, sid))
    sid, seq = sid[order], seq[order]
    ctrl = kind[order] == 0
    setting_in = [pdf[c].to_numpy()[order] for c in _SETTING]
    temp = pdf["temperature"].to_numpy()[order]
    n = len(sid)

    first = _run_starts(sid)
    starts = np.flatnonzero(first)
    seg = np.cumsum(first) - 1  # segment (sensor) number of each row
    sensors = sid[starts]

    # Each sensor's stored state, if it has one.
    pos = np.searchsorted(st["sensor_id"], sensors)
    known = pos < len(st["sensor_id"])
    known[known] = st["sensor_id"][pos[known]] == sensors[known]
    at = pos[known]
    seed_last = np.full(len(sensors), -1, dtype=np.int64)
    seed_last[known] = st["last_action"][at]
    seed_setting = []
    for c in _SETTING:
        v = np.full(len(sensors), np.nan)
        v[known] = st[c][at]
        seed_setting.append(v)

    # Forward-fill settings: latest control row at or before each row, kept
    # only when it lies in the row's own segment.
    idx = np.where(ctrl, np.arange(n), -1)
    np.maximum.accumulate(idx, out=idx)
    have = idx >= starts[seg]
    pick = np.maximum(idx, 0)
    d, u, w = (
        np.where(have, x[pick], s[seg]) for x, s in zip(setting_in, seed_setting)
    )

    rows = np.flatnonzero(~ctrl & ~np.isnan(d))
    act = np.where(
        temp[rows] > d[rows] + u[rows], 1, np.where(temp[rows] < d[rows] - w[rows], 0, -1)
    )
    valid = act >= 0
    rows, av = rows[valid], act[valid]
    g = seg[rows]
    new_g = _run_starts(g)
    prev = np.empty_like(av)
    prev[1:] = av[:-1]
    prev[new_g] = seed_last[g[new_g]]
    emit = av != prev
    out = (sid[rows[emit]], av[emit], seq[rows[emit]])

    last = seed_last.copy()
    seg_end = np.roll(new_g, -1)  # last valid action of each segment
    last[g[seg_end]] = av[seg_end]
    last_ctrl = idx[np.append(starts[1:], n) - 1]
    got_ctrl = last_ctrl >= starts
    setting = [
        np.where(got_ctrl, x[np.maximum(last_ctrl, 0)], s)
        for x, s in zip(setting_in, seed_setting)
    ]

    # Merge: stored sensors not in this batch, plus every batch sensor that
    # now has a setting (a sensor without one has nothing to carry).
    keep = np.ones(len(st["sensor_id"]), dtype=bool)
    keep[at] = False
    upd = known | got_ctrl
    fresh = [sensors, last, *setting]
    merged = {
        c: np.concatenate((st[c][keep], v[upd]))
        for c, v in zip(STATE_SCHEMA.names, fresh)
    }
    by_sid = np.argsort(merged["sensor_id"], kind="stable")
    return {c: v[by_sid] for c, v in merged.items()}, out


def _control_key_group(
    key: tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Key-group micro-batch handler: the spec above for every sensor of the
    group. PySpark may split a group over several chunks in no particular
    order (a union's sources arrive one after another, not in seq order), so
    the chunks are joined and the spec runs once over all of them; the cost
    is holding one group's rows of one micro-batch at once."""
    stored = state.get if state.exists else ([],) * len(STATE_SCHEMA.names)
    st = {
        c: np.asarray(v, dtype=dt)
        for c, v, dt in zip(STATE_SCHEMA.names, stored, _STATE_DTYPES)
    }
    st, (sid, cmd, seq) = _advance(st, pd.concat(list(pdf_iter)))
    if len(st["sensor_id"]):
        state.update(tuple(st[c].tolist() for c in STATE_SCHEMA.names))
    if len(sid):
        yield pd.DataFrame({"sensor_id": sid, "command": cmd, "seq": seq})


def controller_streaming(unified: DataFrame) -> DataFrame:
    """Apply the stateful controller to a (streaming or batch) tagged-union
    DataFrame with columns (sensor_id, record_kind, temperature, desired,
    up_delta, down_delta, seq) — see operators.controller.unify_streams.

    Returns the emitted command stream (sensor_id, command, seq); use
    ``outputMode("update")`` + a 1 s processing-time trigger for reference
    cadence parity (O1/O2, SparkStructuredController.scala:81,85).
    """
    from pyspark.sql import functions as F

    filtered = unified.where(F.col("sensor_id") >= 0)  # P4 bad-record filter
    grouped = filtered.withColumn(
        "key_group", F.pmod(F.hash("sensor_id"), F.lit(KEY_GROUPS))
    )
    return grouped.groupBy("key_group").applyInPandasWithState(
        _control_key_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
