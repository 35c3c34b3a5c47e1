"""Streaming controller: the reference's ``controlTemperature`` state machine
(SparkStructuredController.scala:96-118) as an ``applyInPandasWithState``
processor over the tagged-union stream.

Semantics (the spec, shared with operators/controller.py):
  control record -> state.setting := control, lastAction carried (:100-103)
  sensor record  -> if setting exists: hysteresis action; emit iff action>=0
                    and action != lastAction; then lastAction := action (:104-114)

Engine rules on top of the reference:
  * intra-batch ordering is explicit — each micro-batch group is sorted by
    (seq, record_kind) with control first on ties (the reference leans on
    undefined union order, SparkStructuredController.scala:69-70 / SURVEY §4.2)
  * state is the managed GroupState (checkpointed) — never a per-task local
    map (the Flink/Kafka-Streams dedup-loss bug, SURVEY §2.4 G3/G4)

Scale: state is per-key (sensor_id), hash-partitioned by the groupBy shuffle
into ``spark.sql.shuffle.partitions`` state partitions, which default to the
session's task slots (session.engine_conf); with the RocksDB state store key
spaces beyond executor memory are fine. Each state partition is one task per
micro-batch, and each task pays a fixed cost whatever its key count: a
state-store load and commit, one Python-worker round trip, and PySpark's
per-task ``importlib.invalidate_caches()``. A micro-batch therefore costs
about (fixed cost per state task) x partitions, plus a cost per key paid
almost all inside PySpark (Arrow->pandas conversion of each group and its
state). Measured on 4 cores: about 0.5 s of task time per state task
(0.14 s of it state commit) and 2-3 ms per key; the handler below takes
under 0.1 ms per key. The partition count
is pinned when the query's checkpoint is created: a restarted query reads it
from its offset log, whatever the session's default is then.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

#: Output rows: the emitted HeaterControl commands.
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.IntegerType()),
        T.StructField("command", T.IntegerType()),
        T.StructField("seq", T.LongType()),
    ]
)

#: Keyed state: (last_action, desired, up_delta, down_delta) — the
#: TemperatureControlWithLastValue carrier (DataModelTransform.scala:39).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_action", T.IntegerType()),
        T.StructField("desired", T.DoubleType()),
        T.StructField("up_delta", T.DoubleType()),
        T.StructField("down_delta", T.DoubleType()),
    ]
)


def _control_temperature(
    key: tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key micro-batch handler — the spec above, vectorized.

    The sequential state machine decomposes into array ops: settings
    forward-fill from control rows (latest-value semantics), the hysteresis
    CASE is a nested ``np.where``, and emit-on-change over the ``action>=0``
    subsequence is exactly consecutive-duplicate suppression — ``a != shift(a)``
    with the carried ``last_action`` seeding the first comparison (suppressed
    records equal the previous action by definition, so tracking "last
    emitted" and "last valid" coincide)."""
    import numpy as np

    sensor_id = int(key[0])
    if state.exists:
        last_action, desired, up_delta, down_delta = state.get
        has_setting = desired is not None
    else:
        last_action, desired, up_delta, down_delta = -1, None, None, None
        has_setting = False
    nan = float("nan")

    out_command: list[Any] = []
    out_seq: list[Any] = []

    for pdf in pdf_iter:
        seq = pdf["seq"].to_numpy()
        kind = pdf["record_kind"].to_numpy()
        # Engine ordering rule: control (record_kind 0) before data on seq ties.
        order = np.lexsort((kind, seq))
        seq, kind = seq[order], kind[order]
        ctrl = kind == 0
        des_in = pdf["desired"].to_numpy()[order]
        up_in = pdf["up_delta"].to_numpy()[order]
        dn_in = pdf["down_delta"].to_numpy()[order]
        temp_in = pdf["temperature"].to_numpy()[order]
        n = len(seq)
        # Forward-fill control settings by last-control-index propagation.
        idx = np.where(ctrl, np.arange(n), -1)
        np.maximum.accumulate(idx, out=idx)
        have = idx >= 0
        pick = np.maximum(idx, 0)
        d = np.where(have, des_in[pick], desired if has_setting else nan)
        u = np.where(have, up_in[pick], up_delta if has_setting else nan)
        w = np.where(have, dn_in[pick], down_delta if has_setting else nan)
        sensor_rows = ~ctrl & ~np.isnan(d)
        t = temp_in[sensor_rows]
        ds, us, ws = d[sensor_rows], u[sensor_rows], w[sensor_rows]
        act = np.where(t > ds + us, 1, np.where(t < ds - ws, 0, -1))
        valid = act >= 0
        av, sv = act[valid], seq[sensor_rows][valid]
        if len(av):
            emit = av != np.concatenate(([last_action], av[:-1]))
            out_command.append(av[emit])
            out_seq.append(sv[emit])
            last_action = int(av[-1])
        if ctrl.any():
            last_ci = idx[-1]
            desired = float(des_in[last_ci])
            up_delta = float(up_in[last_ci])
            down_delta = float(dn_in[last_ci])
            has_setting = True

    if has_setting:
        state.update((int(last_action), float(desired), float(up_delta), float(down_delta)))
    if out_command:
        cmd = np.concatenate(out_command)
        yield pd.DataFrame(
            {
                "sensor_id": np.full(len(cmd), sensor_id, dtype="int64"),
                "command": cmd,
                "seq": np.concatenate(out_seq),
            }
        )


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
    return filtered.groupBy("sensor_id").applyInPandasWithState(
        _control_temperature,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
