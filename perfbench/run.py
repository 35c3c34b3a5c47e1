"""Benchmark entry point, run from the root of a checkout:

    python3 perfbench/run.py --workload control_stream --seed 1 --seconds 10 --trace 0

The session runs in a child process (``perfbench.harness``) with its own
fresh scratch dir under ``.perfbench-runs/`` as TMPDIR, SPARK_LOCAL_DIRS and
JVM temp dir, the checkout on PYTHONPATH so Python workers can import the
package, and a fixed task-slot count. ``--trace 0`` runs an untraced
session and reports the end-to-end metrics. ``--trace 1`` runs the same
session with a Spark event log and reports the per-layer metrics. Its
tracing overhead is its ``pass_s`` against the median ``pass_s`` of the
untraced runs of the same workload and length kept under
``.perfbench-out/`` (``trace.baseline_runs`` says how many; 0 means none
and the overhead reads 0).

After the child ends, every process it left behind is killed and its
scratch dir is removed. The run's detail (per-pass timings, host telemetry,
job counts) is kept under ``.perfbench-out/``. The result is printed as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The exit code is 0 only for a run whose outputs all matched the oracle.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import unit_of  # noqa: E402

PACKAGE = "fdp_dynamically_controlled_streams_spark"
WORKLOADS = ("control_stream", "iterative_batch")
#: Task slots (local[N]) for every workload, capped at the host's cores.
SLOTS = 4
#: A run must end within 180 s.
DEADLINE_S = 175


def _group_alive(pgid: int) -> bool:
    """Whether a process other than a zombie is left in group ``pgid``."""
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            state, _ppid, pgrp = stat.read_text().rsplit(")", 1)[1].split()[:3]
        except (OSError, IndexError):
            continue
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def _stop(child: subprocess.Popen) -> None:
    """SIGKILL whatever is left in the child's process group (the JVM it
    started, too), reap the child, and wait until the group is gone."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    for _ in range(100):
        if not _group_alive(child.pid):
            return
        time.sleep(0.1)


def run_child(a: argparse.Namespace, trace: int, slots: int) -> dict | None:
    """One harness session in a fresh process and scratch dir; its result
    payload, or None when it failed or ran past the deadline."""
    runs = ROOT / ".perfbench-runs"
    runs.mkdir(exist_ok=True)
    scratch = Path(tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs))
    try:
        tmp = scratch / "tmp"
        tmp.mkdir()
        env = dict(
            os.environ,
            TMPDIR=str(tmp),
            SPARK_LOCAL_DIRS=str(scratch / "local"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            PYTHONPATH=os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
            ),
            SPARK_GRAFT_CPUS=str(slots),
        )
        result_file = scratch / "result.json"
        cmd = [
            sys.executable, "-m", "perfbench.harness",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(trace),
            "--scratch", str(scratch), "--slots", str(slots),
            "--t0", repr(T0), "--result", str(result_file),
        ]  # fmt: skip
        child = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            rc = child.wait(timeout=max(1.0, T0 + DEADLINE_S - time.time()))
        except subprocess.TimeoutExpired:
            print(f"run passed its {DEADLINE_S} s deadline", file=sys.stderr)
            rc = -1
        finally:
            _stop(child)
        return json.loads(result_file.read_text()) if rc == 0 else None
    except (OSError, ValueError):
        return None
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def untraced_pass_s(out: Path, a: argparse.Namespace) -> list[float]:
    """``pass_s`` of the earlier untraced runs of this workload and run
    length kept under ``out``: the baseline for the tracing overhead."""
    found = []
    for fp in sorted(out.glob(f"{a.workload}-seed*-trace0-*.json")):
        try:
            d = json.loads(fp.read_text())
        except (OSError, ValueError):
            continue
        if d.get("seconds") == a.seconds and d["result"]["correct"]:
            found.append(d["end_to_end"]["pass_s"])
    return found


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its child's process group (see _stop)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    slots = min(SLOTS, os.cpu_count() or 1)
    out = ROOT / ".perfbench-out"
    baseline = untraced_pass_s(out, a) if a.trace else []
    child = run_child(a, a.trace, slots)
    if child is None:
        print("run failed; no result", file=sys.stderr)
        return 1

    if a.trace:
        metrics = dict(child["layers"])
        metrics["trace.baseline_runs"] = len(baseline)
        metrics["trace.overhead_frac"] = (
            child["end_to_end"]["pass_s"] / statistics.median(baseline) - 1.0
            if baseline
            else 0.0
        )
    else:
        metrics = child["end_to_end"]
    result = {
        "correct": child["failed"] == 0,
        "attempted": child["attempted"],
        "failed": child["failed"],
        "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
    }

    out.mkdir(exist_ok=True)
    path = out / f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(T0)}.json"
    detail = {
        "workload": a.workload,
        "seconds": a.seconds,
        "trace": a.trace,
        "result": result,
        "end_to_end": child["end_to_end"],
        "layers": child["layers"],
        **child["detail"],
    }
    path.write_text(json.dumps(detail, indent=1))
    for name, m in result["metrics"].items():
        print(f"{a.workload}/{name} {m['value']:.6g} {m['unit']}")
    print(f"detail {path.relative_to(ROOT)}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
