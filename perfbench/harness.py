"""One benchmark session, in a process that ``perfbench/run.py`` starts with
a fresh TMPDIR, SPARK_LOCAL_DIRS and PYTHONPATH:

    python3 -m perfbench.harness --workload W --seed N --seconds S --trace T \
        --scratch DIR --slots K --t0 EPOCH --result FILE

The session does one untimed warm pass, charged to ``setup_s``, whose
outputs are checked against DuckDB. Timed passes then repeat until their
summed wall time reaches ``--seconds`` and, when traced, the workload's
minimum pass count. The result file holds the end-to-end metrics and the
per-layer metrics read from public APIs. With ``--trace 1`` the session
also writes a Spark event log; the per-layer metrics then add its
aggregate and, on control_stream, a single-slot drain.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import time
from dataclasses import dataclass, field

import duckdb

from fdp_dynamically_controlled_streams_spark.operators.controller import (
    controller_batch_sql_oracle,
)
from fdp_dynamically_controlled_streams_spark.queries import oracle_queries, spark_queries
from fdp_dynamically_controlled_streams_spark.session import get_spark
from fdp_dynamically_controlled_streams_spark.sources import registry
from fdp_dynamically_controlled_streams_spark.streaming.controller import (
    controller_streaming,
)

from perfbench import eventlog, inputs, oracle, stats

#: Seconds a streaming drain may take before it counts as failed.
DRAIN_TIMEOUT_S = 120


@dataclass
class Op:
    """One timed call into the package: a catalog entry or a stream drain."""

    name: str
    start: float
    end: float
    error: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Pass:
    ops: list[Op]
    progress: list[dict] = field(default_factory=list)
    output_rows: int = 0
    leaked_tmp_dirs: int = 0
    loadavg_1m: float = 0.0
    busy_frac: float = 0.0

    @property
    def wall(self) -> float:
        return sum(op.seconds for op in self.ops)


def stop_leftover_queries(spark) -> str | None:
    """Stop any streaming query still active after an operation returned;
    such an operation counts as failed."""
    active = spark.streams.active
    for q in active:
        q.stop()
    return f"{len(active)} streaming queries left active" if active else None


def _dcs_dirs() -> set[str]:
    tmp = os.environ.get("TMPDIR", "/tmp")
    return {d for d in os.listdir(tmp) if d.startswith("dcs-")}


class ControlStream:
    """The paper's query on the streaming runtime: a generated backlog of
    control and sensor records drained with ``availableNow`` through
    ``streaming.controller.controller_streaming`` into a parquet sink."""

    name = "control_stream"
    traced_passes = 1

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.shape = inputs.StreamShape()
        self.in_dir = os.path.join(root, "backlog")
        self.warm_dir = os.path.join(root, "warm")
        self.expected: dict[str, object] = {}
        self.records_per_pass = self.shape.records
        self._n = 0

    def generate(self) -> None:
        chunks = inputs.controller_backlog(self.seed, self.shape)
        registry.write_replay_chunks(chunks, self.in_dir)
        registry.write_replay_chunks(chunks[:1], self.warm_dir)
        for d in (self.in_dir, self.warm_dir):
            self.expected[d] = self._oracle(d)

    @staticmethod
    def _oracle(src: str):
        rows = f"read_parquet('{src}/*.parquet')"
        sql = controller_batch_sql_oracle(
            f"SELECT sensor_id, desired, up_delta, down_delta, seq FROM {rows} "
            "WHERE record_kind = 0",
            f"SELECT sensor_id, temperature, seq FROM {rows} WHERE record_kind = 1",
        )
        return duckdb.sql(sql).df()

    def drain(self, spark, src: str) -> Pass:
        """Drain ``src`` once with a fresh checkpoint; outside the timed
        span, check the sink against the oracle and stop leftovers."""
        self._n += 1
        out = os.path.join(self.root, f"out-{self._n}")
        chk = os.path.join(self.root, f"chk-{self._n}")

        def sink(df, batch_id):
            df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

        stream = registry.replay_dir(spark, src, inputs.UNIFIED_DDL)
        error = None
        start = time.time()
        q = (
            controller_streaming(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                error = f"drain timed out after {DRAIN_TIMEOUT_S} s"
        except Exception as exc:  # noqa: BLE001 - a failed drain is counted, not fatal
            error = f"drain raised {exc!r}"[:500]
        end = time.time()
        error = error or stop_leftover_queries(spark)
        progress = [json.loads(json.dumps(p, default=str)) for p in q.recentProgress]
        try:
            got = duckdb.sql(
                f"SELECT * FROM read_parquet('{out}/*/*.parquet', hive_partitioning=false)"
            ).df()
        except duckdb.Error:
            got = None
        if error is None:
            if got is None:
                error = "sink wrote nothing"
            else:
                error = oracle.mismatch(got, self.expected[src])
        return Pass(
            [Op("controller_streaming", start, end, error)],
            progress=progress,
            output_rows=0 if got is None else len(got),
        )

    def warm(self, spark) -> Pass:
        return self.drain(spark, self.warm_dir)

    def timed_pass(self, spark) -> Pass:
        return self.drain(spark, self.in_dir)

    def unit_ms(self, passes: list[Pass]) -> list[float]:
        return [b["durationMs"]["triggerExecution"] for p in passes for b in p.progress]


class IterativeBatch:
    """Four job-bound iterative catalog entries on generated TPC-H-ish
    tables, each materialized through a ``noop`` sink."""

    name = "iterative_batch"
    #: a traced run times at least two passes, so that it can tell an
    #: entry's exact job count from a varying one
    traced_passes = 2
    entries = (
        "graph_pagerank_suppliers",
        "graph_sssp_supply_costs",
        "graph_kcore_cosupplier",
        "er_golden_part_records",
    )
    #: tables each entry reads; their row counts make ``records_per_pass``
    reads = {
        "graph_pagerank_suppliers": ("orders", "lineitem"),
        "graph_sssp_supply_costs": ("lineitem", "supplier"),
        "graph_kcore_cosupplier": ("lineitem",),
        "er_golden_part_records": ("part",),
    }

    def __init__(self, root: str, seed: int):
        self.sf_dir = os.path.join(root, "tables")
        self.seed = seed
        self.shape = inputs.TableShape()
        self.expected: dict[str, object] = {}
        self.records_per_pass = 0
        self.queries = spark_queries()

    def generate(self) -> None:
        tables = inputs.catalog_tables(self.seed, self.shape)
        inputs.write_tables(tables, self.sf_dir)
        self.records_per_pass = sum(
            tables[t].num_rows for e in self.entries for t in self.reads[e]
        )
        con = oracle.duck_con(self.sf_dir, list(tables))
        sql = oracle_queries()
        self.expected = {e: con.execute(sql[e]).df() for e in self.entries}
        con.close()

    def _run(self, spark, entry: str, check: bool) -> Op:
        start = time.time()
        error = None
        try:
            df = self.queries[entry](spark, self.sf_dir)
            if check:
                got = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - a failed entry is counted, not fatal
            error = f"{entry} raised {exc!r}"[:500]
        end = time.time()
        error = error or stop_leftover_queries(spark)
        if check and error is None:
            error = oracle.mismatch(got, self.expected[entry])
        return Op(entry, start, end, error)

    def warm(self, spark) -> Pass:
        return Pass([self._run(spark, e, check=True) for e in self.entries])

    def timed_pass(self, spark) -> Pass:
        return Pass([self._run(spark, e, check=False) for e in self.entries])

    def unit_ms(self, passes: list[Pass]) -> list[float]:
        return [op.seconds * 1000 for p in passes for op in p.ops]


WORKLOADS = {w.name: w for w in (ControlStream, IterativeBatch)}


@dataclass
class Session:
    """The passes of one SparkSession: its warm pass and its timed passes."""

    start_s: float
    warm: Pass
    passes: list[Pass]
    first_timed: float
    fixture_builds: float
    fixture_build_s: float


def run_session(
    workload, scratch: str, slots: int, seconds: float, log_dir: str | None = None
) -> Session:
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{workload.name}", master=f"local[{slots}]", extra_conf=extra
    )
    start_s = time.perf_counter() - t
    fixtures0 = dict(registry.FIXTURE_STATS)
    try:
        warm = workload.warm(spark)
        fixtures1 = dict(registry.FIXTURE_STATS)
        first_timed = time.time()
        passes: list[Pass] = []
        min_passes = workload.traced_passes if log_dir else 1
        while len(passes) < min_passes or sum(p.wall for p in passes) < seconds:
            before_dirs, cpu0 = _dcs_dirs(), stats.cpu_times()
            load = stats.loadavg_1m()
            p = workload.timed_pass(spark)
            p.leaked_tmp_dirs = len(_dcs_dirs() - before_dirs)
            p.loadavg_1m, p.busy_frac = load, stats.busy_frac(cpu0, stats.cpu_times())
            passes.append(p)
    finally:
        spark.stop()
    return Session(
        start_s,
        warm,
        passes,
        first_timed,
        fixtures1["builds"] - fixtures0["builds"],
        fixtures1["build_sec"] - fixtures0["build_sec"],
    )


def end_to_end(workload, s: Session, t0: float) -> dict[str, float]:
    walls = [p.wall for p in s.passes]
    return {
        "setup_s": s.first_timed - t0,
        "records_per_s": workload.records_per_pass * len(walls) / sum(walls),
        "batch_p50_ms": stats.median(workload.unit_ms(s.passes)),
        "pass_s": stats.median(walls),
    }


def _progress_sums(p: Pass) -> dict[str, float]:
    dur = [b.get("durationMs", {}) for b in p.progress]
    ops = [o for b in p.progress for o in b.get("stateOperators", [])]
    last_ops = p.progress[-1].get("stateOperators", []) if p.progress else []
    return {
        "streaming.batches": len(p.progress),
        "streaming.input_rows": sum(b.get("numInputRows", 0) for b in p.progress),
        "streaming.output_rows": p.output_rows,
        "streaming.state_rows": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "streaming.query_planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
        "streaming.wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
        "streaming.commit_offsets_ms": sum(d.get("commitOffsets", 0) for d in dur),
        "streaming.latest_offset_ms": sum(d.get("latestOffset", 0) for d in dur),
        "streaming.state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "streaming.state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in last_ops),
    }


def _median_of(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: stats.median([r[k] for r in rows]) for k in rows[0]} if rows else {}


def timed_layers(s: Session, generate_s: float) -> dict[str, float]:
    """Per-layer metrics read from the session's public APIs."""
    out: dict[str, float] = {
        "session.start_s": s.start_s,
        "sources.generate_s": generate_s,
        "sources.fixture_build_s": s.fixture_build_s,
        "sources.fixture_builds": s.fixture_builds,
        "sources.leaked_tmp_dirs": stats.median([p.leaked_tmp_dirs for p in s.passes]),
    }
    for e in IterativeBatch.entries:
        secs = [op.seconds for p in s.passes for op in p.ops if op.name == e]
        out[f"queries.{e}_s"] = stats.median(secs)
    out.update(_median_of([_progress_sums(p) for p in s.passes]))
    batch_ms = [b["durationMs"]["triggerExecution"] for p in s.passes for b in p.progress]
    pct, value, n = stats.tail(batch_ms)
    out.update(
        {
            "streaming.batch_tail_ms": value,
            "streaming.batch_tail_pct": pct,
            "streaming.batch_tail_samples": n,
        }
    )
    return out


def traced_layers(s: Session, log_dir: str) -> tuple[dict[str, float], dict]:
    """Per-layer event-log counters of a traced session: per pass sums,
    reported as the median over passes, plus each entry's job count with
    a flag that is 1 only when the count repeated exactly across passes."""
    windows = {
        f"{i}/{op.name}": (op.start * 1000, op.end * 1000)
        for i, p in enumerate(s.passes)
        for op in p.ops
    }
    agg = eventlog.aggregate(eventlog.read_events(eventlog.find_log(log_dir)), windows)
    per_pass: list[dict[str, float]] = []
    for i, p in enumerate(s.passes):
        row = {f"{layer}.{c}": 0.0 for layer in eventlog.LAYERS for c in eventlog.COUNTERS}
        for op in p.ops:
            for layer, counters in agg[f"{i}/{op.name}"].items():
                for c, v in counters.items():
                    row[f"{layer}.{c}"] += v
        per_pass.append(row)
    out = _median_of(per_pass)
    jobs_detail = {}
    for e in IterativeBatch.entries:
        counts = [
            int(agg[f"{i}/{e}"]["operators"]["jobs"] + agg[f"{i}/{e}"]["streaming"]["jobs"])
            for i, p in enumerate(s.passes)
            if any(op.name == e for op in p.ops)
        ]
        exact = stats.exact_count(counts)
        jobs_detail[e] = {"jobs_per_pass": counts, "exact": exact}
        out[f"operators.{e}.jobs"] = stats.median(counts)
        out[f"operators.{e}.jobs_exact"] = 1.0 if exact else 0.0
    return out, {"jobs_per_entry": jobs_detail, "per_pass": per_pass}


def single_slot_drain(workload: ControlStream) -> Pass:
    """One chunk drained on ``local[1]``: the single-threaded baseline."""
    spark = get_spark(
        app_name="perfbench-single-slot",
        master="local[1]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        return workload.drain(spark, workload.warm_dir)
    finally:
        spark.stop()


def _pass_detail(p: Pass) -> dict:
    return {
        "wall_s": p.wall,
        "ops": [{"name": o.name, "s": o.seconds, "error": o.error} for o in p.ops],
        "batch_ms": [b["durationMs"]["triggerExecution"] for b in p.progress],
        "leaked_tmp_dirs": p.leaked_tmp_dirs,
        "loadavg_1m": p.loadavg_1m,
        "busy_frac": p.busy_frac,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--slots", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args(argv)

    cpu0 = stats.cpu_times()
    workload = WORKLOADS[a.workload](os.path.join(a.scratch, "inputs"), a.seed)
    t = time.perf_counter()
    workload.generate()
    generate_s = time.perf_counter() - t
    log_dir = os.path.join(a.scratch, "eventlog") if a.trace else None
    session = run_session(workload, a.scratch, a.slots, a.seconds, log_dir)
    passes = {"warm": [session.warm], "timed": session.passes}
    detail: dict = {}
    layers = timed_layers(session, generate_s)
    if a.trace:
        traced, detail = traced_layers(session, log_dir)
        layers.update(traced)
        layers["streaming.single_slot_records_per_s"] = 0.0
        if isinstance(workload, ControlStream):
            single = single_slot_drain(workload)
            passes["single_slot"] = [single]
            layers["streaming.single_slot_records_per_s"] = (
                workload.shape.batch_records / single.wall
            )

    ops = [op for ps in passes.values() for p in ps for op in p.ops]
    failed = [op for op in ops if op.error]
    detail.update(
        {
            "workload_seed": a.seed,
            "inputs": dataclasses.asdict(workload.shape),
            "slots": a.slots,
            "nproc": os.cpu_count(),
            "host_busy_frac": stats.busy_frac(cpu0, stats.cpu_times()),
            "failures": [{"name": o.name, "error": o.error} for o in failed],
            "passes": {k: [_pass_detail(p) for p in ps] for k, ps in passes.items()},
        }
    )
    payload = {
        "attempted": len(ops),
        "failed": len(failed),
        "end_to_end": end_to_end(workload, session, a.t0),
        "layers": layers,
        "detail": detail,
    }
    with open(a.result, "w") as fh:
        json.dump(payload, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
