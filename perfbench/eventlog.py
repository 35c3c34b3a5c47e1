"""Aggregate a Spark JSON event log into per-layer counters.

Jobs are assigned to a time window (one timed operation) by their
submission time and to a layer by their local properties: a job that
carries ``sql.streaming.queryId`` ran for a streaming query, every other
job is an operator job. Task metrics and the Python-worker SQL metrics are
summed over the tasks of each job's stages.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

LAYERS = ("operators", "streaming")

#: Spark 4.1 PythonSQLMetrics accumulable names -> counter names. Timings
#: are milliseconds, data sizes bytes.
PYTHON_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "driver_gap_ms",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    *PYTHON_METRICS.values(),
)


def read_events(path: str) -> list[dict]:
    """Events of one application log: a single JSON-lines file, or a
    rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` parts."""
    if os.path.isdir(path):
        parts = glob.glob(os.path.join(path, "events_*"))
        files = sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = [path]
    events = []
    for fp in files:
        with open(fp) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def find_log(log_dir: str) -> str:
    """The single application log written under ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if "inprogress" not in p]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(spans):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def aggregate(
    events: list[dict], windows: dict[str, tuple[float, float]]
) -> dict[str, dict[str, dict[str, float]]]:
    """``windows`` maps a label to ``(start_ms, end_ms)`` in epoch
    milliseconds. Returns ``label -> layer -> counter -> value`` for every
    label and layer; a layer with no jobs in a window reads all zeros.

    ``driver_gap_ms`` is the window's wall time minus the union of that
    layer's job spans inside it (0 when the layer ran no job there)."""
    out = {w: {layer: dict.fromkeys(COUNTERS, 0.0) for layer in LAYERS} for w in windows}
    stage_owner: dict[int, tuple[str, str]] = {}
    spans: dict[tuple[str, str], list[tuple[float, float]]] = defaultdict(list)
    job_key: dict[int, tuple[str, str]] = {}
    job_start: dict[int, float] = {}

    def window_of(t_ms: float) -> str | None:
        for label, (s, e) in windows.items():
            if s <= t_ms <= e:
                return label
        return None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = window_of(ev["Submission Time"])
            if label is None:
                continue
            props = ev.get("Properties") or {}
            layer = "streaming" if "sql.streaming.queryId" in props else "operators"
            key = (label, layer)
            job_key[ev["Job ID"]] = key
            job_start[ev["Job ID"]] = ev["Submission Time"]
            out[label][layer]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, key)
        elif kind == "SparkListenerJobEnd":
            key = job_key.get(ev["Job ID"])
            if key is not None:
                s, e = windows[key[0]]
                start = job_start[ev["Job ID"]]
                spans[key].append((max(s, start), min(e, ev["Completion Time"])))
        elif kind == "SparkListenerStageCompleted":
            key = stage_owner.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                out[key[0]][key[1]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_owner.get(ev["Stage ID"])
            if key is None:
                continue
            c = out[key[0]][key[1]]
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["executor_run_ms"] += m.get("Executor Run Time", 0)
            c["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            c["gc_ms"] += m.get("JVM GC Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = PYTHON_METRICS.get(acc.get("Name"))
                if name is not None:
                    c[name] += float(acc.get("Update") or 0)
    for (label, layer), job_spans in spans.items():
        s, e = windows[label]
        out[label][layer]["driver_gap_ms"] = max(0.0, (e - s) - _union_ms(job_spans))
    return out
