"""Streaming controller tests: real Structured Streaming execution over a
deterministic file replay (micro-batches = chunk files), checking (a) exact
output parity with the batch twin — one semantics, two runtimes — and
(b) state carry-over across micro-batches and restarts."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from fdp_dynamically_controlled_streams_spark.operators.controller import (
    controller_batch,
    unify_streams,
)
from fdp_dynamically_controlled_streams_spark.schemas import UNIFIED_SCHEMA
from fdp_dynamically_controlled_streams_spark.sources.registry import (
    replay_dir,
    write_replay_chunks,
    write_replay_chunks_df,
)
from fdp_dynamically_controlled_streams_spark.streaming.controller import (
    KEY_GROUPS,
    STATE_SCHEMA,
    _control_key_group,
    controller_streaming,
)
from fdp_dynamically_controlled_streams_spark.streaming.drain import _await_drain, drain

UNIFIED_DDL = (
    "sensor_id int, record_kind int, temperature double, "
    "desired double, up_delta double, down_delta double, seq long"
)


def _scenario_unified() -> pd.DataFrame:
    """Two sensors, interleaved control + data, including in-band readings,
    duplicate actions, a mid-stream setpoint change, and a bad record."""
    rows = []

    def control(sid, desired, seq, delta=1.0):
        rows.append((sid, 0, None, desired, delta, delta, seq))

    def sensor(sid, temp, seq):
        rows.append((sid, 1, temp, None, None, None, seq))

    sensor(1, 50.0, 0)  # before control: no output
    control(1, 45.0, 1)
    sensor(1, 50.0, 2)  # -> Off(1)
    sensor(1, 50.5, 3)  # dup Off suppressed
    sensor(1, 45.2, 4)  # in band
    sensor(1, 40.0, 5)  # -> On(0)
    control(2, 60.0, 6)
    sensor(2, 70.0, 7)  # -> Off(1)
    sensor(-1, 99.0, 8)  # bad record sentinel
    control(1, 30.0, 9)  # setpoint change; lastAction carried (On)
    sensor(1, 40.0, 10)  # 40 > 31 -> Off(1)
    sensor(2, 55.0, 11)  # 55 < 59 -> On(0)
    sensor(1, 28.0, 12)  # 28 < 29 -> On(0)
    pdf = pd.DataFrame(
        rows,
        columns=[
            "sensor_id",
            "record_kind",
            "temperature",
            "desired",
            "up_delta",
            "down_delta",
            "seq",
        ],
    )
    return pdf.astype(
        {"sensor_id": "int32", "record_kind": "int32", "seq": "int64"}
    )


EXPECTED = [(1, 1, 2), (1, 0, 5), (2, 1, 7), (1, 1, 10), (2, 0, 11), (1, 0, 12)]


def _run_stream(spark, chunks, tmp, checkpoint=None):
    data_dir = f"{tmp}/replay"
    write_replay_chunks(chunks, data_dir)
    unified = replay_dir(spark, data_dir, UNIFIED_DDL, files_per_trigger=1)
    out = controller_streaming(unified)
    collected: list = []
    drain(
        out,
        lambda bdf, bid: collected.extend(bdf.collect()),
        checkpoint or f"{tmp}/chk",
        output_mode="update",
    )
    return sorted((r.sensor_id, r.command, r.seq) for r in collected)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dcs-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_matches_batch_twin_single_batch(spark, tmpdir):
    pdf = _scenario_unified()
    got = _run_stream(spark, [pdf], tmpdir)
    assert got == sorted(EXPECTED)


def test_streaming_state_across_micro_batches(spark, tmpdir):
    """Split mid-stream: setting + lastAction must survive batch boundaries."""
    pdf = _scenario_unified()
    chunks = [pdf.iloc[:4], pdf.iloc[4:9], pdf.iloc[9:]]
    got = _run_stream(spark, chunks, tmpdir)
    assert got == sorted(EXPECTED)


def _batch_twin_rows(spark, pdf):
    """The batch twin's sorted (sensor_id, command, seq) rows for a
    tagged-union frame."""
    control_pdf = pdf[pdf.record_kind == 0][
        ["sensor_id", "desired", "up_delta", "down_delta", "seq"]
    ]
    sensor_pdf = pdf[pdf.record_kind == 1][["sensor_id", "temperature", "seq"]]
    control = spark.createDataFrame(
        control_pdf, "sensor_id int, desired double, up_delta double, down_delta double, seq long"
    )
    sensor = spark.createDataFrame(sensor_pdf, "sensor_id int, temperature double, seq long")
    return sorted(
        (r.sensor_id, r.command, r.seq)
        for r in controller_batch(control, sensor).collect()
    )


def test_streaming_equals_batch_operator(spark, tmpdir):
    """Same semantics, two runtimes: streaming output == batch twin output."""
    pdf = _scenario_unified()
    batch = _batch_twin_rows(spark, pdf)
    got = _run_stream(spark, [pdf.iloc[:6], pdf.iloc[6:]], tmpdir)
    assert got == batch == sorted(EXPECTED)


def _replay_ts_stream(spark, chunks, tmpdir, ddl):
    """Replay pandas chunks (with a micros ts column) as one-file micro-batches."""
    for c in chunks:
        c["ts"] = c["ts"].astype("datetime64[us]")
    data_dir = f"{tmpdir}/replay"
    write_replay_chunks(chunks, data_dir)
    return replay_dir(spark, data_dir, ddl, files_per_trigger=1)


def _ts(minute: float):
    return pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=minute)


def test_dedup_within_watermark_bounds_state_and_drops_late(spark, tmpdir):
    """dropDuplicatesWithinWatermark semantics (SURVEY §2.7 streaming dedup):
    (a) duplicates within the watermark horizon are suppressed;
    (b) key state is evicted once the watermark passes first-arrival + delay,
        so a far-later duplicate re-emits — this TTL is what bounds state at
        100 TB key cardinalities (vs. unbounded dropDuplicates);
    (c) rows older than the watermark are discarded as late data.
    Note Spark's two-watermark batch semantics: late-event filtering uses the
    PREVIOUS batch's watermark, eviction the current one — hence the spacer
    batch between the advancer (C@30) and the probes."""
    mk = lambda rows: pd.DataFrame(rows, columns=["key", "ts"])
    chunks = [
        mk([("A", _ts(0)), ("B", _ts(5))]),          # both emit
        mk([("A", _ts(6)), ("C", _ts(30))]),         # A dup suppressed; C emits
        # after the C@30 batch the eviction watermark is 00:30-10min = 00:20
        # -> A (expiry 00:10) and B (00:15) evicted.
        mk([("D", _ts(31))]),                        # spacer: late-filter wm -> 00:20
        mk([("A", _ts(25)), ("B", _ts(15))]),        # A re-emits; B@15 late -> dropped
    ]
    stream = _replay_ts_stream(spark, chunks, tmpdir, "key string, ts timestamp")
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["key"]
    )
    collected: list = []
    drain(
        deduped,
        lambda bdf, bid: collected.extend(bdf.collect()),
        f"{tmpdir}/chk",
    )
    got = sorted((r.key, r.ts.minute) for r in collected)
    assert got == [("A", 0), ("A", 25), ("B", 5), ("C", 30), ("D", 31)]


def test_windowed_agg_watermark_finalizes_and_discards_late(spark, tmpdir):
    """Append-mode tumbling window agg: a window emits exactly once, when the
    watermark passes its end; late rows (event time < watermark) never land."""
    mk = lambda rows: pd.DataFrame(rows, columns=["key", "ts"])
    chunks = [
        mk([("x", _ts(1)), ("y", _ts(5))]),   # window [00:00, 00:10): 2 rows
        mk([("z", _ts(30))]),                 # eviction watermark -> 00:20
        mk([("w", _ts(31))]),                 # spacer: late-filter wm -> 00:20
        mk([("late", _ts(2))]),               # < watermark -> discarded
    ]
    stream = _replay_ts_stream(spark, chunks, tmpdir, "key string, ts timestamp")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "n")
    )
    collected: list = []
    drain(
        agg,
        lambda bdf, bid: collected.extend(bdf.collect()),
        f"{tmpdir}/chk",
    )
    # Exactly one finalized window; the late row did not reopen or change it.
    assert [(r.start.minute, r.n) for r in collected] == [(0, 2)]


def test_progress_listener_records_batches_and_state(spark, tmpdir):
    """O7 diagnostics: the listener sees every micro-batch with row counts
    and stateful-operator totals (the reference's println traces, structured)."""
    import time

    from fdp_dynamically_controlled_streams_spark.streaming.monitor import (
        ProgressRecorder,
    )

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        pdf = _scenario_unified()
        got = _run_stream(spark, [pdf.iloc[:6], pdf.iloc[6:]], tmpdir)
        assert got == sorted(EXPECTED)
        # listener events are delivered asynchronously
        for _ in range(50):
            if sum(b.num_input_rows for b in rec.batches) >= len(pdf):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(rec)
    assert sum(b.num_input_rows for b in rec.batches) == len(pdf)
    assert any((b.state_rows or 0) > 0 for b in rec.batches)  # keyed state seen


def _resume_controller(
    spark, tmpdir, chunks=None, split=1, partitions=(None, None), on_resume=None
):
    """Replay ``chunks[:split]``, stop, append the remaining chunks and
    resume from the same checkpoint. ``chunks`` defaults to the scenario cut
    after its first six rows. ``partitions`` gives the session's
    shuffle-partition count for each start (None keeps the session's); the
    session's count is restored afterwards. ``on_resume`` is called between
    the two runs. Returns the rows emitted by the first run, the rows
    emitted by both, and the progress of each run's micro-batches, one list
    per run."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if chunks is None:
        pdf = _scenario_unified()
        chunks = [pdf.iloc[:6], pdf.iloc[6:]]
    data_dir = f"{tmpdir}/replay"
    chk = f"{tmpdir}/chk"
    write_replay_chunks(chunks[:split], data_dir)
    collected: list = []
    progress: list = []
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)

    def start(n_parts):
        spark.conf.set(key, str(n_parts or prev))
        unified = replay_dir(spark, data_dir, UNIFIED_DDL, files_per_trigger=1)
        q = (
            controller_streaming(unified)
            .writeStream.outputMode("update")
            .foreachBatch(lambda bdf, bid: collected.extend(bdf.collect()))
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, 180)
        progress.append(q.recentProgress)

    try:
        start(partitions[0])
        first = sorted((r.sensor_id, r.command, r.seq) for r in collected)
        if on_resume is not None:
            on_resume()
        for i, chunk in enumerate(chunks[split:]):
            fp = f"{data_dir}/chunk-{90000 + i}.parquet"
            pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), fp)
            os.utime(fp, (1_700_000_100 + i, 1_700_000_100 + i))
        start(partitions[1])
    finally:
        spark.conf.set(key, prev)
    return first, sorted((r.sensor_id, r.command, r.seq) for r in collected), progress


def test_streaming_resume_from_checkpoint(spark, tmpdir):
    """Restart semantics: run chunk 1, stop, add chunk 2, resume from the
    same checkpoint — state (setting + lastAction) must persist."""
    first, got, _ = _resume_controller(spark, tmpdir)
    assert first == sorted([(1, 1, 2), (1, 0, 5)])
    assert got == sorted(EXPECTED)


def test_resume_keeps_checkpoint_state_partitions(spark, tmpdir):
    """The state partition count is pinned when the checkpoint is created:
    a query started on 3 partitions resumes on 3 in a session whose default
    is 5, reads the state it wrote, and emits the same commands."""
    first, got, progress = _resume_controller(spark, tmpdir, partitions=(3, 5))
    assert first == sorted([(1, 1, 2), (1, 0, 5)])
    assert got == sorted(EXPECTED)
    counts = [run[-1]["stateOperators"][0]["numShufflePartitions"] for run in progress]
    assert counts == [3, 3]


def test_resume_under_other_key_group_count_raises(spark, tmpdir, monkeypatch):
    """A checkpoint whose state values were written under another KEY_GROUPS
    count fails the resumed query in its first micro-batch, which commits
    nothing, instead of running on with sensors routed to groups that do not
    hold their settings."""
    import os

    from fdp_dynamically_controlled_streams_spark.streaming import controller

    def stale(key, pdf_iter, state):
        out = list(_control_key_group(key, pdf_iter, state))
        if state.exists:
            state.update((*state.get[:-1], KEY_GROUPS * 8))
        yield from out

    monkeypatch.setattr(controller, "_control_key_group", stale)
    with pytest.raises(Exception, match=f"KEY_GROUPS={KEY_GROUPS * 8}"):
        _resume_controller(spark, tmpdir, on_resume=monkeypatch.undo)
    assert [f for f in os.listdir(f"{tmpdir}/chk/commits") if f[0] != "."] == ["0"]


def _random_unified(rng, n_keys, n_rows):
    """Random tagged-union rows over ``n_keys`` sensors in seq order: about
    10% control; half the readings that follow a control share its seq and
    sensor (a seq tie); the top tenth of the sensors never get a setting."""
    seq = np.arange(n_rows, dtype=np.int64)
    sid = rng.integers(0, n_keys, n_rows).astype(np.int32)
    ctrl = (rng.random(n_rows) < 0.1) & (sid < n_keys * 9 // 10)
    tie = np.flatnonzero(ctrl[:-1] & ~ctrl[1:] & (rng.random(n_rows - 1) < 0.5)) + 1
    sid[tie], seq[tie] = sid[tie - 1], seq[tie - 1]
    nan = np.full(n_rows, np.nan)
    return pd.DataFrame(
        {
            "sensor_id": sid,
            "record_kind": np.where(ctrl, 0, 1).astype(np.int32),
            "temperature": np.where(ctrl, nan, np.round(45 + rng.normal(0, 4, n_rows), 2)),
            "desired": np.where(ctrl, np.round(45 + rng.uniform(-5, 5, n_rows), 1), nan),
            "up_delta": np.where(ctrl, rng.choice([0.5, 1.0, 2.0], n_rows), nan),
            "down_delta": np.where(ctrl, rng.choice([0.5, 1.0, 2.0], n_rows), nan),
            "seq": seq,
        }
    )


def _spec_reference(records):
    """The sequential per-key loop of ``streaming.controller``'s docstring,
    over records in (seq, record_kind) order. Returns the sorted emitted
    rows and each set sensor's final (last_action, desired, up_delta,
    down_delta)."""
    setting, last, out = {}, {}, []
    for r in sorted(records, key=lambda r: (r.seq, r.record_kind)):
        if r.record_kind == 0:
            setting[r.sensor_id] = (r.desired, r.up_delta, r.down_delta)
        elif r.sensor_id in setting:
            d, u, w = setting[r.sensor_id]
            action = 1 if r.temperature > d + u else 0 if r.temperature < d - w else -1
            if action >= 0 and action != last.get(r.sensor_id, -1):
                out.append((r.sensor_id, action, r.seq))
            if action >= 0:
                last[r.sensor_id] = action
    return sorted(out), {k: (last.get(k, -1), *v) for k, v in setting.items()}


def _group_state(value):
    """The GroupState PySpark hands the handler for one key group; ``value``
    is the stored state row, or None."""
    return GroupState(
        optionalValue=value,
        batchProcessingTimeMs=0,
        eventTimeWatermarkMs=-1,
        timeoutConf="NoTimeout",
        hasTimedOut=False,
        watermarkPresent=False,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=-1,
        keyAsUnsafe=b"",
        valueSchema=STATE_SCHEMA,
    )


def _cut(pdf, n, rng=None):
    """``pdf`` as ``n`` contiguous pieces, at random cuts when ``rng`` is
    given, else evenly."""
    if rng is None:
        cuts = np.linspace(0, len(pdf), n + 1).astype(int)[1:-1]
    else:
        cuts = np.sort(rng.choice(np.arange(1, len(pdf)), n - 1, replace=False))
    bounds = [0, *cuts, len(pdf)]
    return [pdf.iloc[a:b] for a, b in zip(bounds, bounds[1:])]


@pytest.mark.parametrize("seed", range(5))
def test_key_group_handler_matches_per_key_spec(seed):
    """No Spark: 40 sensors share one key group through four handler calls,
    each call's rows shuffled and then split over 1-3 chunks, so chunks
    overlap in seq as PySpark's may, with the state carried from call to
    call as a stored row. Emitted rows and every sensor's final state equal
    the sequential per-key spec. The sensors share the group's arrays, so a
    setting or last_action leaking from one sensor to another changes the
    output or the state."""
    rng = np.random.default_rng(seed)
    value, got, fed = None, [], []
    for call in _cut(_random_unified(rng, n_keys=40, n_rows=1200), 4):
        chunks = _cut(call.sample(frac=1.0, random_state=rng), rng.integers(1, 4), rng)
        fed += chunks
        state = _group_state(value)
        for out in _control_key_group((0,), iter(chunks), state):
            got += zip(out.sensor_id, out.command, out.seq)
        if state.exists:
            value = Row(*state.get)
    want, want_state = _spec_reference(pd.concat(fed).itertuples())
    assert sorted(got) == want
    sensors, *carried, groups = value
    assert dict(zip(sensors, zip(*carried))) == want_state
    assert groups == KEY_GROUPS


def test_key_group_handler_rejects_other_key_group_count():
    """No Spark: a stored value written under another KEY_GROUPS raises
    before the handler emits or writes anything, since the group no longer
    holds the sensors that hash to it."""
    pdf = _scenario_unified()
    value = Row([1], [-1], [45.0], [1.0], [1.0], KEY_GROUPS * 8)
    state = _group_state(value)
    with pytest.raises(ValueError, match=f"KEY_GROUPS={KEY_GROUPS * 8}"):
        list(_control_key_group((0,), iter([pdf]), state))
    assert state.get == value


def test_streaming_multi_key_matches_batch_and_resumes(spark, tmpdir):
    """300 sensors over four micro-batches, so most sensors share their key
    group with others: the output equals the batch twin, both straight
    through and when the query stops after two micro-batches and resumes
    from its checkpoint. Each micro-batch's rows are shuffled, and the
    straight run cuts Arrow chunks at 3 rows, so PySpark hands the handler
    a group's records over several chunks out of seq order."""
    pdf = _random_unified(np.random.default_rng(7), n_keys=300, n_rows=4000)
    groups = (
        spark.range(300)
        .select(F.pmod(F.hash(F.col("id").cast("int")), F.lit(KEY_GROUPS)).alias("g"))
        .groupBy("g")
        .count()
    )
    assert groups.where("count > 1").agg(F.sum("count")).first()[0] > 150
    chunks = [c.sample(frac=1.0, random_state=7) for c in _cut(pdf, 4)]
    want = _batch_twin_rows(spark, pdf)
    assert len(want) > 300
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        assert _run_stream(spark, chunks, f"{tmpdir}/straight") == want
    finally:
        spark.conf.set(key, prev)
    _, resumed, progress = _resume_controller(
        spark, f"{tmpdir}/resumed", chunks, split=2
    )
    assert resumed == want
    # The resumed run rebuilt its state by replaying the first run's
    # changelog files, not by loading a snapshot.
    replays = [_rocksdb_metric(p, "rocksdbNumReplayChangelogFiles") for p in progress[1]]
    assert max(replays) > 0


def _rocksdb_metric(progress, name):
    """A RocksDB custom metric of a micro-batch's state operator."""
    return progress["stateOperators"][0]["customMetrics"][name]


def test_controller_state_commits_write_changelogs(spark, tmpdir):
    """On the session's RocksDB store every state commit writes the batch's
    changes as <v>.changelog in each state partition's dir and uploads no
    snapshot zip, in the first run and in the resumed one."""
    import os

    _, got, progress = _resume_controller(spark, tmpdir)
    assert got == sorted(EXPECTED)
    batches = [p for run in progress for p in run]
    uploads = [_rocksdb_metric(p, "rocksdbSaveZipFilesLatencyMs") for p in batches]
    assert uploads == [0] * len(batches)
    versions = {f"{v}.changelog" for v in range(1, len(batches) + 1)}
    state_dir = f"{tmpdir}/chk/state/0"
    parts = [d for d in os.listdir(state_dir) if d.isdigit()]
    assert len(parts) == batches[0]["stateOperators"][0]["numShufflePartitions"]
    for part in parts:
        files = set(os.listdir(f"{state_dir}/{part}"))
        assert versions <= files, (part, sorted(files))
        assert not [f for f in files if f.endswith(".zip")], (part, sorted(files))


def test_session_window_merges_and_finalizes(spark, tmpdir):
    """Streaming session windows (SURVEY §2.7 event-time windows): events
    within the 5-minute gap merge into one growing session; the session
    emits once, when the watermark passes its close (last event + gap).
    The batch lag()-based twin is catalog `events_sessionization`."""
    mk = lambda rows: pd.DataFrame(rows, columns=["key", "ts"])
    chunks = [
        # u1: events at 0' and 2' (one session), then 20' (a second session)
        mk([("u1", _ts(0)), ("u1", _ts(2)), ("u1", _ts(20))]),
        # advancer: watermark (10' delay) -> 00:50; both u1 sessions close
        mk([("u2", _ts(60))]),
    ]
    stream = _replay_ts_stream(spark, chunks, tmpdir, "key string, ts timestamp")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("key", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("key", F.col("w.start").alias("start"), F.col("w.end").alias("end"), "n")
    )
    collected: list = []
    drain(
        agg,
        lambda bdf, bid: collected.extend(bdf.collect()),
        f"{tmpdir}/chk",
    )
    got = sorted((r.key, r.start.minute, r.end.minute, r.n) for r in collected)
    # session 1 = [00:00, 00:07) with 2 events (0' and 2', end = 2'+5');
    # session 2 = [00:20, 00:25) with 1; u2's session is still open -> absent
    assert got == [("u1", 0, 7, 2), ("u1", 20, 25, 1)]


def test_write_replay_chunks_df_orders_chunks(spark, tmp_path):
    """Distributed chunk writer contract: one file per range partition,
    mtimes strictly increasing in range order, rows sorted within a chunk,
    and every chunk boundary respects the order column (max(seq) of chunk i
    < min(seq) of chunk i+1)."""
    import glob
    import os

    import pandas as pd

    path = str(tmp_path / "chunks")
    df = spark.range(0, 1000).selectExpr("id AS seq", "id % 7 AS k")
    write_replay_chunks_df(df, path, n_chunks=4, order_cols=("seq",))
    files = sorted(glob.glob(os.path.join(path, "part-*")))
    assert 1 < len(files) <= 4
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    prev_max = -1
    total = 0
    for f in files:
        pdf = pd.read_parquet(f)
        assert list(pdf["seq"]) == sorted(pdf["seq"])
        assert pdf["seq"].min() > prev_max
        prev_max = pdf["seq"].max()
        total += len(pdf)
    assert total == 1000


def test_progress_recorder_observes_replay_micro_batches(spark):
    """O7 diagnostics exercised against a real replay: the listener must see
    the two data micro-batches the 2-chunk fixture contract promises, with
    row counts and (for the stateful dedup) state rows populated."""
    import time

    from fdp_dynamically_controlled_streams_spark.queries import spark_queries
    from fdp_dynamically_controlled_streams_spark.streaming.monitor import (
        ProgressRecorder,
    )

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        n = spark_queries()["streaming_dedup_replay"](
            spark, "/root/testdata/sf0.001"
        ).count()
        assert n > 0
        # listener delivery is async — poll briefly
        for _ in range(60):
            if len([b for b in rec.batches if b.num_input_rows > 0]) >= 2:
                break
            time.sleep(0.25)
        data_batches = [b for b in rec.batches if b.num_input_rows > 0]
        assert len(data_batches) >= 2  # one per chunk file
        assert sum(b.num_input_rows for b in data_batches) > 0
        assert any((b.state_rows or 0) > 0 for b in data_batches)
    finally:
        spark.streams.removeListener(rec)


def test_write_replay_chunks_partitioned_exact_boundaries(spark, tmp_path):
    """Exact-boundary chunk writer contract (r12, the index-maintenance
    loops' fixture): EXACTLY one chunk file per listed value in listed
    order (mtimes strictly increasing), every chunk holds all and only
    its value's rows sorted by the order cols, the partition column is
    dropped, and an empty value still yields a (schema-bearing) chunk so
    the replay's day numbering never shifts."""
    import glob
    import os

    import pandas as pd

    from fdp_dynamically_controlled_streams_spark.sources.registry import (
        write_replay_chunks_partitioned,
    )

    path = str(tmp_path / "chunks")
    df = spark.range(0, 90).selectExpr(
        "id AS doc_id", "id % 3 AS day", "CAST(id AS STRING) AS text"
    ).where("day != 1 OR doc_id < 40")
    write_replay_chunks_partitioned(
        df, path, part_col="day", part_values=[0, 1, 2, 9],
        order_cols=("doc_id",),
    )
    files = sorted(glob.glob(os.path.join(path, "chunk-*.parquet")))
    assert len(files) == 4
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    for i, (f, day) in enumerate(zip(files, [0, 1, 2, 9])):
        pdf = pd.read_parquet(f)
        assert "day" not in pdf.columns
        want = sorted(
            r.doc_id for r in df.where(f"day = {day}").collect()
        )
        assert list(pdf["doc_id"]) == want
    assert sum(len(pd.read_parquet(f)) for f in files) == df.count()


def _redeliver_newest_epoch(work_dir, rerun):
    """Re-deliver the newest micro-batch of a maintenance pipeline the way
    a crash between its epoch writes and the engine's commit would: drop
    the batch from the checkpoint's commit log, then ``rerun()`` the
    pipeline, so the engine runs that batch again through the shipped
    epoch body. Returns the re-delivered batch id."""
    import os

    commits = os.path.join(work_dir, "chk", "commits")
    bid = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(bid), f".{bid}.crc"):
        path = os.path.join(commits, name)
        if os.path.exists(path):
            os.remove(path)
    rerun()
    assert os.path.exists(os.path.join(commits, str(bid)))  # re-ran, re-committed
    return bid


def test_minhash_maintenance_pipeline_resume_and_idempotent(spark, tmp_path):
    """Restart-safe maintenance pipeline laws (r12 verdict task 4):
    (1) RESUME-MID-CRAWL — run the pipeline with only day 0 present,
        then add days 1-2 and call it again with the same work_dir /
        checkpoint: the union of decisions equals the one-shot run's
        (no loss, no duplicates), because day 1 screens against the
        PERSISTED day-0 snapshot, not driver memory;
    (2) RE-DELIVERY IDEMPOTENCE — re-running an epoch's batch body
        (foreachBatch is at-least-once) rewrites byte-identical
        epoch artifacts instead of double-applying.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        minhash_index,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.maintenance import (
        _latest_snapshot,
        minhash_maintenance_pipeline,
        minhash_step,
        read_epoch_outputs,
        replay_in_driver,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    alt = "a completely different document about streaming engines at scale"
    seed = spark.createDataFrame(
        [(1, base), (2, alt)], "doc_id long, text string"
    )
    seed_path = str(tmp_path / "seed_sig")
    minhash_index(seed).write.mode("overwrite").parquet(seed_path)

    days = [
        pd.DataFrame({"doc_id": [10, 11], "text": [base + " extra", "nothing shared here at all"]}),
        pd.DataFrame({"doc_id": [20], "text": [base + " extra"]}),  # matches 10 via day-0 snapshot
        pd.DataFrame({"doc_id": [30], "text": [alt + " suffix"]}),
    ]
    data_dir = str(tmp_path / "data")
    os.makedirs(data_dir)

    def add_day(i):
        fp = f"{data_dir}/chunk-{i:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(days[i], preserve_index=False), fp)
        os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    ddl = "doc_id long, n_matches long, best_est double, is_new boolean"

    # one-shot reference run (its own work_dir)
    for i in range(3):
        add_day(i)
    ref_out = minhash_maintenance_pipeline(
        spark, data_dir, "doc_id long, text string", seed_path,
        str(tmp_path / "ref"),
    )
    ref = sorted(map(tuple, read_epoch_outputs(spark, ref_out, ddl).collect()))
    assert ref and any(r[0] == 20 and r[1] >= 1 and not r[3] for r in ref)
    # the driver-state loop runs the same step over the same seed and days
    assert sorted(map(tuple, replay_in_driver(
        spark, data_dir, "doc_id long, text string", seed_path, minhash_step()
    ).collect())) == ref

    # (1) interrupted + resumed run over a shared work_dir
    data2 = str(tmp_path / "data2")
    os.makedirs(data2)
    data_dir = data2

    def add_day2(i):
        fp = f"{data2}/chunk-{i:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(days[i], preserve_index=False), fp)
        os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    add_day2(0)
    work = str(tmp_path / "work")
    out = minhash_maintenance_pipeline(
        spark, data2, "doc_id long, text string", seed_path, work,
    )
    partial = read_epoch_outputs(spark, out, ddl)
    assert partial.count() == 2  # day 0 only
    add_day2(1)
    add_day2(2)
    out = minhash_maintenance_pipeline(
        spark, data2, "doc_id long, text string", seed_path, work,
    )
    resumed = sorted(map(tuple, read_epoch_outputs(spark, out, ddl).collect()))
    assert resumed == ref

    # (2) re-delivery: the engine re-runs the NEWEST epoch (the only
    # epoch foreachBatch can actually re-deliver — and, since r14, the
    # only one the default keep_snapshots=2 retention guarantees a
    # prior for: e0 is reclaimed once e1/e2 commit) — artifacts
    # unchanged
    sig_root = os.path.join(work, "sig")
    assert not os.path.exists(f"{sig_root}/e0")  # retention reclaimed it
    before = sorted(map(tuple, spark.read.parquet(f"{sig_root}/e2").collect()))
    prior = _latest_snapshot(sig_root, 2)
    assert prior and prior.endswith("e1")
    assert _redeliver_newest_epoch(
        work,
        lambda: minhash_maintenance_pipeline(
            spark, data2, "doc_id long, text string", seed_path, work
        ),
    ) == 2
    after = sorted(map(tuple, spark.read.parquet(f"{sig_root}/e2").collect()))
    assert after == before
    assert sorted(map(tuple, read_epoch_outputs(spark, os.path.join(work, "out"), ddl).collect())) == ref


def test_embedding_maintenance_pipeline_resume(spark, tmp_path):
    """Embedding restart-safe pipeline (r13): interrupted + resumed run
    equals the one-shot run — with the plane count RE-DERIVED from the
    persisted snapshot's own row count on resume (no bits state beyond
    the snapshot), so the blocking reconstructs identically — and a
    re-delivered newest epoch rewrites identical artifacts."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fdp_dynamically_controlled_streams_spark.operators.similarity import (
        derived_bits,
        embedding_index,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.maintenance import (
        embedding_maintenance_pipeline,
        embedding_step,
        read_epoch_outputs,
        replay_in_driver,
    )

    def vec(i, flip=1.0):
        return [flip * float(((i * 7 + d * 3) % 11) - 5) for d in range(8)]

    seed = spark.createDataFrame(
        [(i, vec(i)) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    seed_path = str(tmp_path / "seed")
    embedding_index(seed, bits=derived_bits(20)).write.mode(
        "overwrite"
    ).parquet(f"{seed_path}/idx")

    days = [
        pd.DataFrame({"vec_id": [100, 101], "embedding": [vec(3), vec(3, -1.0)]}),
        pd.DataFrame({"vec_id": [200], "embedding": [vec(3)]}),  # matches 100
    ]
    ddl = "vec_id long, n_matches long, best_cos double, is_new boolean"

    arrow_schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
    )

    def make_data(root):
        os.makedirs(root, exist_ok=True)

        def add(i):
            fp = f"{root}/chunk-{i:05d}.parquet"
            pq.write_table(
                pa.Table.from_pandas(
                    days[i], preserve_index=False, schema=arrow_schema
                ),
                fp,
            )
            os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

        return add

    # one-shot reference
    d1 = str(tmp_path / "d1"); add1 = make_data(d1)
    add1(0); add1(1)
    ref_out = embedding_maintenance_pipeline(
        spark, d1, "vec_id long, embedding array<float>",
        f"{seed_path}/idx", str(tmp_path / "ref"),
    )
    ref = sorted(map(tuple, read_epoch_outputs(spark, ref_out, ddl).collect()))
    assert any(r[0] == 200 and r[1] >= 1 and not r[3] for r in ref)
    # the driver-state loop runs the same step over the same seed and days
    assert sorted(map(tuple, replay_in_driver(
        spark, d1, "vec_id long, embedding array<float>", f"{seed_path}/idx",
        embedding_step(),
    ).collect())) == ref

    # interrupted + resumed
    d2 = str(tmp_path / "d2"); add2 = make_data(d2)
    add2(0)
    work = str(tmp_path / "work")
    out = embedding_maintenance_pipeline(
        spark, d2, "vec_id long, embedding array<float>",
        f"{seed_path}/idx", work,
    )
    assert read_epoch_outputs(spark, out, ddl).count() == 2
    add2(1)
    out = embedding_maintenance_pipeline(
        spark, d2, "vec_id long, embedding array<float>",
        f"{seed_path}/idx", work,
    )
    assert sorted(map(tuple, read_epoch_outputs(spark, out, ddl).collect())) == ref

    # re-delivery of the newest epoch: it re-derives the same bits from
    # the same prior snapshot and rewrites identical artifacts
    idx_root = os.path.join(work, "idx")
    before = sorted(map(tuple, spark.read.parquet(f"{idx_root}/e1").collect()))
    assert _redeliver_newest_epoch(
        work,
        lambda: embedding_maintenance_pipeline(
            spark, d2, "vec_id long, embedding array<float>",
            f"{seed_path}/idx", work,
        ),
    ) == 1
    after = sorted(map(tuple, spark.read.parquet(f"{idx_root}/e1").collect()))
    assert after == before
    assert sorted(map(tuple, read_epoch_outputs(spark, out, ddl).collect())) == ref


def _day_writer(root, frames, schema=None):
    """Write day ``i``'s frame as an mtime-ordered replay chunk."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)

    def add(i):
        fp = f"{root}/chunk-{i:05d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(
                frames[i], preserve_index=False, schema=schema
            ),
            fp,
        )
        os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    return add


def test_exact_substring_maintenance_pipeline_resume_and_idempotent(
    spark, tmp_path
):
    """ExactSubstr restart-safe pipeline laws (r13 verdict task 1 — the
    minhash pattern applied to the TWO-relation index): (1) an
    interrupted + resumed run over the same work_dir produces exactly
    the one-shot run's spans — day 1's match against a day-0 doc exists
    ONLY via the persisted day-0 snapshot; (2) re-running the newest
    epoch's batch body rewrites byte-identical snapshot relations."""
    import os

    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        exact_substring_index,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.maintenance import (
        _latest_snapshot,
        exact_substring_maintenance_pipeline,
        exact_substring_step,
        read_epoch_outputs,
        replay_in_driver,
    )

    blk0 = "a verbatim shared licence block across docs"
    blk1 = "unique day zero boilerplate paragraph xyz"
    seed = spark.createDataFrame(
        [(1, f"seed doc with {blk0} inside"), (2, "nothing in common here")],
        "doc_id long, text string",
    )
    seed_path = str(tmp_path / "seed")
    cbase, ch = exact_substring_index(seed, length=12)
    cbase.write.mode("overwrite").parquet(f"{seed_path}/cbase")
    ch.write.mode("overwrite").parquet(f"{seed_path}/ch")

    days = [
        pd.DataFrame(
            {"doc_id": [10, 11],
             "text": [f"quoting {blk0} here", f"fresh text {blk1} today"]}
        ),
        # 20 matches ONLY day 0's doc 11 (via the maintained index)
        pd.DataFrame({"doc_id": [20], "text": [f"reusing {blk1} again"]}),
        pd.DataFrame({"doc_id": [30], "text": [f"third day {blk0} echo"]}),
    ]
    ddl = "doc_id long, span_start long, span_end long, span_len long"

    # one-shot reference
    d1 = str(tmp_path / "d1")
    add1 = _day_writer(d1, days)
    for i in range(3):
        add1(i)
    ref_out = exact_substring_maintenance_pipeline(
        spark, d1, "doc_id long, text string", seed_path,
        str(tmp_path / "ref"), length=12,
    )
    ref = sorted(map(tuple, read_epoch_outputs(spark, ref_out, ddl).collect()))
    assert any(r[0] == 20 and r[3] >= len(blk1) for r in ref)  # via day-0 snapshot
    assert any(r[0] == 10 for r in ref) and any(r[0] == 30 for r in ref)
    # the driver-state loop runs the same step over the same seed and days
    assert sorted(map(tuple, replay_in_driver(
        spark, d1, "doc_id long, text string", seed_path,
        exact_substring_step(length=12),
    ).collect())) == ref

    # (1) interrupted + resumed
    d2 = str(tmp_path / "d2")
    add2 = _day_writer(d2, days)
    add2(0)
    work = str(tmp_path / "work")
    out = exact_substring_maintenance_pipeline(
        spark, d2, "doc_id long, text string", seed_path, work,
        length=12,
    )
    assert read_epoch_outputs(spark, out, ddl).where("doc_id = 10").count() >= 1
    add2(1)
    add2(2)
    out = exact_substring_maintenance_pipeline(
        spark, d2, "doc_id long, text string", seed_path, work,
        length=12,
    )
    assert sorted(map(tuple, read_epoch_outputs(spark, out, ddl).collect())) == ref

    # (2) re-delivery of the newest epoch: byte-identical artifacts
    idx_root = os.path.join(work, "idx")
    parts = ("cbase", "ch")
    assert not os.path.exists(f"{idx_root}/e0")  # retention reclaimed it
    before = {
        part: sorted(
            map(tuple, spark.read.parquet(f"{idx_root}/e2/{part}").collect())
        )
        for part in parts
    }
    prior = _latest_snapshot(idx_root, 2, parts)
    assert prior and prior.endswith("e1")
    assert _redeliver_newest_epoch(
        work,
        lambda: exact_substring_maintenance_pipeline(
            spark, d2, "doc_id long, text string", seed_path, work, length=12
        ),
    ) == 2
    after = {
        part: sorted(
            map(tuple, spark.read.parquet(f"{idx_root}/e2/{part}").collect())
        )
        for part in parts
    }
    assert after == before
    assert sorted(
        map(tuple,
            read_epoch_outputs(spark, os.path.join(work, "out"), ddl).collect())
    ) == ref


def test_bm25_maintenance_pipeline_resume_and_idempotent(spark, tmp_path):
    """BM25 restart-safe pipeline laws (r13 verdict task 1 — retrieval's
    THREE-relation index rides the persisted-snapshot discipline):
    (1) interrupted + resumed equals one-shot — a day-1 query's scores
    depend on day 0's docs being IN the persisted stats/postings;
    (2) re-running the newest epoch rewrites byte-identical relations;
    plus the fold cadence publishes a committed folded snapshot."""
    import os

    from fdp_dynamically_controlled_streams_spark.operators import (
        retrieval as retr_ops,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.maintenance import (
        _latest_snapshot,
        bm25_maintenance_pipeline,
        bm25_step,
        read_epoch_outputs,
        replay_in_driver,
    )

    seed = spark.createDataFrame(
        [(1, "apple banana cherry"), (2, "banana date elderberry"),
         (3, "cherry date fig")],
        "doc_id long, text string",
    )
    seed_path = str(tmp_path / "seed")
    t0, d0, s0 = retr_ops.bm25_raw_index(seed)
    t0.write.mode("overwrite").parquet(f"{seed_path}/tdc_dl")
    d0.write.mode("overwrite").parquet(f"{seed_path}/df_t")
    s0.write.mode("overwrite").parquet(f"{seed_path}/stats")

    days = [
        pd.DataFrame({"doc_id": [10, 11],
                      "text": ["apple cherry grape", "grape honeydew kiwi"]}),
        pd.DataFrame({"doc_id": [20], "text": ["grape kiwi apple"]}),
        pd.DataFrame({"doc_id": [30], "text": ["banana fig grape"]}),
    ]
    ddl = "query_id long, doc_id long, rank int, score double"

    d1 = str(tmp_path / "d1")
    add1 = _day_writer(d1, days)
    for i in range(3):
        add1(i)
    ref_out = bm25_maintenance_pipeline(
        spark, d1, "doc_id long, text string", seed_path,
        str(tmp_path / "ref"), k=3, panel_mod=1, fold_every=2,
    )
    ref = sorted(map(tuple, read_epoch_outputs(spark, ref_out, ddl).collect()))
    # day-1 query 20 must retrieve day-0 docs (grape/kiwi exist only there)
    assert any(r[0] == 20 and r[1] in (10, 11) for r in ref)
    # the driver-state loop runs the same step over the same seed and days
    assert sorted(map(tuple, replay_in_driver(
        spark, d1, "doc_id long, text string", seed_path,
        bm25_step(k=3, panel_mod=1),
    ).collect())) == ref

    # (1) interrupted + resumed
    d2 = str(tmp_path / "d2")
    add2 = _day_writer(d2, days)
    add2(0)
    work = str(tmp_path / "work")
    out = bm25_maintenance_pipeline(
        spark, d2, "doc_id long, text string", seed_path, work,
        k=3, panel_mod=1, fold_every=2,
    )
    assert read_epoch_outputs(spark, out, ddl).where("query_id = 10").count() > 0
    add2(1)
    add2(2)
    out = bm25_maintenance_pipeline(
        spark, d2, "doc_id long, text string", seed_path, work,
        k=3, panel_mod=1, fold_every=2,
    )
    assert sorted(map(tuple, read_epoch_outputs(spark, out, ddl).collect())) == ref

    # fold cadence: epoch 1 (the 2nd) published a committed folded snapshot
    fold_root = os.path.join(work, "fold")
    assert os.path.exists(os.path.join(fold_root, "e1", "_SUCCESS"))
    folded = spark.read.parquet(os.path.join(fold_root, "e1"))
    assert {"term", "doc_id", "c"} <= set(folded.columns)

    # (2) re-delivery of the newest epoch: byte-identical artifacts
    idx_root = os.path.join(work, "idx")
    parts = ("tdc_dl", "df_t", "stats")
    assert not os.path.exists(f"{idx_root}/e0")  # retention reclaimed it
    before = {
        part: sorted(
            map(tuple, spark.read.parquet(f"{idx_root}/e2/{part}").collect())
        )
        for part in parts
    }
    prior = _latest_snapshot(idx_root, 2, parts)
    assert prior and prior.endswith("e1")
    assert _redeliver_newest_epoch(
        work,
        lambda: bm25_maintenance_pipeline(
            spark, d2, "doc_id long, text string", seed_path, work,
            k=3, panel_mod=1, fold_every=2,
        ),
    ) == 2
    after = {
        part: sorted(
            map(tuple, spark.read.parquet(f"{idx_root}/e2/{part}").collect())
        )
        for part in parts
    }
    assert after == before
    assert sorted(
        map(tuple,
            read_epoch_outputs(spark, os.path.join(work, "out"), ddl).collect())
    ) == ref


def test_pipeline_retention_and_compaction_invariance(spark, tmp_path):
    """r13 verdict task 3 laws: retention (keep_snapshots) and decisions
    compaction (compact_outputs_depth) choices NEVER change answers —
    and the aggressive run's physical layout is actually bounded (at
    most keep_last snapshot dirs; decisions rolled into one c* dir)."""
    import glob as g
    import os

    from fdp_dynamically_controlled_streams_spark.operators.dedup import (
        minhash_index,
    )
    from fdp_dynamically_controlled_streams_spark.streaming.maintenance import (
        minhash_maintenance_pipeline,
        read_epoch_outputs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    seed = spark.createDataFrame([(1, base)], "doc_id long, text string")
    seed_path = str(tmp_path / "seed_sig")
    minhash_index(seed).write.mode("overwrite").parquet(seed_path)

    days = [
        pd.DataFrame({"doc_id": [10], "text": [base + " one"]}),
        pd.DataFrame({"doc_id": [20], "text": [base + " two"]}),
        pd.DataFrame({"doc_id": [30], "text": ["nothing shared at all here"]}),
        pd.DataFrame({"doc_id": [40], "text": [base + " four"]}),
    ]
    ddl = "doc_id long, n_matches long, best_est double, is_new boolean"

    results = {}
    layouts = {}
    for tag, kw in {
        "unbounded": dict(keep_snapshots=None, compact_outputs_depth=None),
        "bounded": dict(keep_snapshots=2, compact_outputs_depth=2),
    }.items():
        data = str(tmp_path / f"data_{tag}")
        add = _day_writer(data, days)
        for i in range(4):
            add(i)
        work = str(tmp_path / f"work_{tag}")
        out = minhash_maintenance_pipeline(
            spark, data, "doc_id long, text string", seed_path, work,
            **kw,
        )
        results[tag] = sorted(
            map(tuple, read_epoch_outputs(spark, out, ddl).collect())
        )
        layouts[tag] = {
            "snaps": sorted(
                os.path.basename(p)
                for p in g.glob(os.path.join(work, "sig", "e*"))
            ),
            "outs": sorted(
                os.path.basename(p)
                for p in g.glob(os.path.join(work, "out", "[ec]*"))
            ),
        }
    assert results["bounded"] == results["unbounded"]  # the law
    assert len(results["bounded"]) == 4
    assert layouts["unbounded"]["snaps"] == ["e0", "e1", "e2", "e3"]
    assert layouts["bounded"]["snaps"] == ["e2", "e3"]  # keep_last=2
    # every epoch rolled up as depth hits 2; nothing stranded
    assert all(o.startswith("c") for o in layouts["bounded"]["outs"]), layouts
    assert layouts["unbounded"]["outs"] == ["e0", "e1", "e2", "e3"]


def test_compaction_policy_rule():
    """compaction_due is the when-to-compact rule as code (r13 verdict
    task 3): composition depth triggers, a pure comparison."""
    from fdp_dynamically_controlled_streams_spark.streaming.maintenance import (
        compaction_due,
        reclaim_epoch_snapshots,
    )

    assert not compaction_due(0)
    assert not compaction_due(7)
    assert compaction_due(8)
    assert compaction_due(3, max_depth=3)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        reclaim_epoch_snapshots("/nonexistent", keep_last=1)


def test_overlap_jobs_runs_all_and_propagates_errors():
    """overlap_jobs (the pipelines' concurrent-sink primitive) must run
    EVERY thunk exactly once even when one fails — a failed decisions
    write must not cancel the snapshot write mid-flight (the epoch stays
    uncommitted either way; _SUCCESS gating decides) — and must
    propagate the first error after all threads join."""
    import pytest as _pytest

    from fdp_dynamically_controlled_streams_spark.functions.parallelism import (
        overlap_jobs,
    )

    ran = []
    overlap_jobs(lambda: ran.append("a"))  # single-thunk fast path
    assert ran == ["a"]

    ran.clear()
    overlap_jobs(lambda: ran.append("a"), lambda: ran.append("b"))
    assert sorted(ran) == ["a", "b"]

    ran.clear()

    def boom():
        raise RuntimeError("boom")

    with _pytest.raises(RuntimeError, match="boom"):
        overlap_jobs(boom, lambda: ran.append("b"), lambda: ran.append("c"))
    assert sorted(ran) == ["b", "c"]  # siblings still completed


def test_await_drain_fails_loudly(spark, tmpdir):
    """A stream that does not drain in time is stopped and raises; a stream
    whose sink fails raises with the sink's error, never partial output,
    and the replay conf it ran under is restored after the raise."""
    from pyspark.errors import StreamingQueryException

    endless = spark.readStream.format("rate").load().writeStream.format("noop").start()
    with pytest.raises(TimeoutError):
        _await_drain(endless, timeout_s=0.5)
    assert not endless.isActive

    def reject(bdf, bid):
        raise ValueError("sink rejected batch")

    write_replay_chunks([_scenario_unified()], f"{tmpdir}/replay")
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.stateStore.providerClass",
    )
    prev = [spark.conf.get(k) for k in keys]
    with pytest.raises(StreamingQueryException, match="sink rejected batch"):
        drain(
            replay_dir(spark, f"{tmpdir}/replay", UNIFIED_DDL),
            reject,
            f"{tmpdir}/chk",
            partitions=3,
        )
    assert [spark.conf.get(k) for k in keys] == prev
