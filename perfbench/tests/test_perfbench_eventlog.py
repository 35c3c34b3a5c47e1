"""Event-log aggregation on a tiny log recorded from Spark 4.1.2 and trimmed
to the fields the aggregation reads: one operator job (a grouped pandas
UDF over 100 rows on local[2]) and one streaming micro-batch of
``controller_streaming`` over 50 records.

Run with ``python -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import re
import shutil
from pathlib import Path

import pytest

from perfbench import eventlog, harness

LOG = Path(__file__).resolve().parent / "data" / "tiny_eventlog.json"
#: Wall-clock spans of the two operations, as the recording script took them.
BATCH = (1792227630235.0332, 1792227636520.2078)
STREAM = (1792227636529.5303, 1792227640816.7915)


@pytest.fixture(scope="module")
def events():
    return eventlog.read_events(str(LOG))


def test_jobs_split_by_layer_and_window(events):
    agg = eventlog.aggregate(events, {"batch": BATCH, "stream": STREAM})
    op = agg["batch"]["operators"]
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 2, 4)
    assert agg["batch"]["streaming"] == dict.fromkeys(eventlog.COUNTERS, 0.0)
    st = agg["stream"]["streaming"]
    assert (st["jobs"], st["stages"], st["tasks"]) == (1, 2, 3)
    assert agg["stream"]["operators"] == dict.fromkeys(eventlog.COUNTERS, 0.0)


def test_task_metrics_and_python_boundary(events):
    agg = eventlog.aggregate(events, {"batch": BATCH, "stream": STREAM})
    op, st = agg["batch"]["operators"], agg["stream"]["streaming"]
    assert op["executor_run_ms"] == 5824
    assert op["executor_cpu_ms"] == pytest.approx(1005.700803)
    assert op["gc_ms"] == 154
    assert op["shuffle_read_bytes"] == op["shuffle_write_bytes"] == 1118
    assert op["spill_bytes"] == 0
    assert (op["python_boot_ms"], op["python_init_ms"], op["python_run_ms"]) == (2908, 660, 4190)
    assert (op["python_bytes_sent"], op["python_bytes_received"]) == (2248, 720)
    assert (st["python_init_ms"], st["python_run_ms"], st["python_bytes_received"]) == (
        7546,
        616,
        2736,
    )


def test_driver_gap_is_wall_minus_job_spans(events):
    agg = eventlog.aggregate(events, {"batch": BATCH, "stream": STREAM})
    # job 0 ran 1792227633070..1792227636494, job 1 ran 1792227638625..1792227640533
    assert agg["batch"]["operators"]["driver_gap_ms"] == pytest.approx(
        (BATCH[1] - BATCH[0]) - (1792227636494 - 1792227633070)
    )
    assert agg["stream"]["streaming"]["driver_gap_ms"] == pytest.approx(
        (STREAM[1] - STREAM[0]) - (1792227640533 - 1792227638625)
    )


def test_jobs_outside_every_window_are_ignored(events):
    agg = eventlog.aggregate(events, {"stream": STREAM})
    assert list(agg) == ["stream"]
    assert agg["stream"]["operators"]["tasks"] == 0
    assert agg["stream"]["streaming"]["tasks"] == 3


def test_union_of_overlapping_spans():
    assert eventlog._union_ms([(0, 10), (5, 15), (20, 25), (21, 22)]) == 20


def test_rolling_log_directory_reads_parts_in_order(tmp_path, events):
    lines = LOG.read_text().splitlines(keepends=True)
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # part 10 must sort after part 2: numeric, not lexical, order
    (d / "events_2_local-1").write_text("".join(lines[:8]))
    (d / "events_10_local-1").write_text("".join(lines[8:]))
    (d / "appstatus_local-1").write_text("")
    assert eventlog.read_events(str(d)) == events
    assert eventlog.find_log(str(tmp_path)) == str(d)


def test_find_log_needs_exactly_one(tmp_path):
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
    shutil.copy(LOG, tmp_path / "a")
    shutil.copy(LOG, tmp_path / "b")
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))


def test_emitted_metric_names_are_the_declared_ones(tmp_path):
    """The harness's metric names, computed on the tiny log without Spark,
    are exactly those BENCHMARK.json declares, in the contract charset."""
    entry = harness.IterativeBatch.entries[0]
    ops = [
        harness.Op(entry, BATCH[0] / 1000, BATCH[1] / 1000),
        harness.Op("controller_streaming", STREAM[0] / 1000, STREAM[1] / 1000),
    ]
    session = harness.Session(1.0, harness.Pass(ops), [harness.Pass(ops)], 0.0, 0, 0.0)
    (tmp_path / "log").write_text(LOG.read_text())
    traced, _ = harness.traced_layers(session, str(tmp_path))
    layers = {**harness.timed_layers(session, 0.1), **traced}
    # added by run.py and by the single-slot drain
    emitted = set(layers) | {
        "streaming.single_slot_records_per_s",
        "trace.baseline_runs",
        "trace.overhead_frac",
    }
    workload = harness.IterativeBatch(str(tmp_path), 1)
    workload.records_per_pass = 1
    e2e = set(harness.end_to_end(workload, session, 0.0))

    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert e2e == {m["name"] for m in spec["end_to_end"]}
    assert emitted == {m["name"] for m in spec["per_layer"]}
    name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
    assert all(name.fullmatch(n) for n in emitted | e2e)
    assert traced[f"operators.{entry}.jobs"] == 1
    assert traced[f"operators.{entry}.jobs_exact"] == 0  # one pass: not exact
