#!/usr/bin/env python3
"""Closed-loop benchmark of the registered query builders.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 20 --trace 0

One run is one fresh process at ``local[nproc]`` and one single-threaded
closed-loop client: it writes the seed's inputs (perfbench/inputs.py),
starts the session with the program's defaults, warms up, then runs whole
passes over the workload's queries.  Each operation is one call of
``queries.REGISTRY[q].build(spark, input_dir)`` followed by a ``noop``-sink
write of the result, which computes every output column (a ``count()``
lets Catalyst prune them), and ``release_persisted()``.

The number of passes is fixed by ``--seconds`` and a nominal pass
length, never by the clock: on a faster commit a clock-bounded loop
would run more, and warmer, passes, and the JVM's JIT keeps warming for
minutes, so the comparison would not be like for like.

After the timed passes the outputs of the last pass are checked apart
from the program (perfbench/checks.py).  An operation that raises, or
whose query fails a check, counts as failed.  ``--trace 1`` adds job
groups, a Spark event log and a streaming listener, and reports the
per-layer counters instead of the end-to-end metrics; its spans are
written to ``.perfbench/traces/``.

The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))


# About the wall of a first, cold pass of either workload on a 4-core
# host; it only turns --seconds into a pass count.
NOMINAL_PASS_S = 40.0
WORKLOADS = {
    # The reference's CDC -> snapshot -> dashboard path: the Debezium
    # changelog replays (write-heavy: streaming triggers, foreachBatch
    # folds) first, then the read-only join and dashboard queries
    # (driver-side plan construction, Catalyst, scans).
    "lakehouse": (
        "streaming_upsert_snapshot",
        "streaming_scd2_bucketed_snapshot",
        "streaming_rollup_snapshot",
        "flagship_benefits",
        "bu_salary_dashboard",
        "join_dim_snowflake",
        "topk_group_count",
        "multi_aggregate",
        "window_moving_avg",
        "asof_join",
        "tpch_q5_region_volume",
    ),
    # The LLM-corpus operators: driver-side connected-component rounds
    # (dedup, packing) and executor-side vector folds (similarity).
    "llm_corpus": (
        "corpus_pipeline_lsh",
        "dedup_minhash_lsh",
        "paragraph_dedup",
        "quality_classifier",
        "text_stats",
        "knn_ivfpq",
        "knn_bruteforce",
        "dedup_semantic",
    ),
}
ALL_QUERIES = tuple(q for queries in WORKLOADS.values() for q in queries)

STREAM_PHASES = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
}
EXEC_COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "jvm_gc_s",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
SOURCE_COUNTERS = ("input_bytes", "input_rows")


@dataclass
class OpRun:
    query: str
    pass_no: int
    start: float = 0.0  # epoch seconds, for spans
    build_s: float = 0.0
    exec_s: float = 0.0
    exec_start: float = 0.0
    released: int = 0
    error: str | None = None
    columns: list[str] = field(default_factory=list)
    write: dict | None = None  # the NoopWriteProbe record of its timed action

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def program_missing() -> str | None:
    for rel in ("full_data_infrastructure_spark/queries.py", "tests/oracle_check.py"):
        if not (ROOT / rel).is_file():
            return rel
    return None


def keep_writes_in(work: Path) -> None:
    """Keep every file the run writes (replay dirs, Spark local dirs, JVM
    temp files, the warehouse dir) inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # as nproc counts
    os.chdir(work)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Harness:
    def __init__(self, args: argparse.Namespace, work: Path, input_dir: Path) -> None:
        self.args = args
        self.input_dir = input_dir
        self.queries = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.event_dir = work / "eventlog"
        self.runs: list[OpRun] = []
        self.pass_s: list[float] = []
        self.last_df: dict = {}

    # --- set-up -------------------------------------------------------
    def start(self) -> None:
        from full_data_infrastructure_spark import queries
        from full_data_infrastructure_spark.session import build_session

        from perfbench.probes import StreamProbe, attach_noop_probe

        extra = None
        if self.trace:
            self.event_dir.mkdir()
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.spark = build_session(app_name=f"perfbench-{self.args.workload}", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        queries._ensure_loaded()
        self.registry = queries.REGISTRY
        # Warm-up: one trivial job, so the first timed operation is not
        # charged for the scheduler's and code generator's first use.
        self.spark.range(1000).count()
        self.noop = attach_noop_probe(self.spark)
        self.streams = None
        if self.trace:
            self.streams = StreamProbe()
            self.spark.streams.addListener(self.streams)

    # --- timed passes -------------------------------------------------
    def set_group(self, query: str, phase: str, pass_no: int) -> None:
        self.spark.sparkContext.setJobGroup(
            f"{self.args.workload}:{query}:{phase}", f"pass={pass_no}"
        )

    def run_op(self, query: str, pass_no: int) -> OpRun:
        from full_data_infrastructure_spark.cache import release_persisted

        op = OpRun(query, pass_no, start=time.time())
        if self.streams is not None:
            self.streams.current = (query, pass_no)
        if self.trace:
            self.set_group(query, "build", pass_no)
        t0 = time.perf_counter()
        try:
            df = self.registry[query].build(self.spark, str(self.input_dir))
            op.build_s = time.perf_counter() - t0
            if self.trace:
                self.set_group(query, "exec", pass_no)
            op.exec_start = time.time()
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            op.exec_s = time.perf_counter() - t1
            op.columns = df.columns
            self.last_df[query] = df
        except Exception as exc:
            op.error = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc(file=sys.stderr)
        op.released = release_persisted()
        print(f"perfbench: {query} pass {pass_no}: build {op.build_s:.3f}s exec {op.exec_s:.3f}s",
              file=sys.stderr)
        return op

    def run_passes(self, passes: int) -> None:
        for pass_no in range(passes):
            t = time.perf_counter()
            for query in self.queries:
                self.runs.append(self.run_op(query, pass_no))
            self.pass_s.append(time.perf_counter() - t)
        if self.trace:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # --- after the timed passes ----------------------------------------
    def match_writes(self) -> str | None:
        """Pair each successful timed action with its noop-write record
        (both are in completion order)."""
        from perfbench.probes import drain_listener_bus

        drain_listener_bus(self.spark)
        done = [op for op in self.runs if op.error is None]
        writes = [w for w in self.noop.writes if w["columns"] is not None]
        if self.noop.errors or len(writes) != len(done):
            return f"noop-write probe saw {len(writes)} writes for {len(done)} actions {self.noop.errors}"
        for op, w in zip(done, writes):
            op.write = w
        return None

    def failures(self, check_failures: dict[str, str]) -> list[str]:
        failed = []
        for op in self.runs:
            if op.error is not None:
                failed.append(f"{op.query} pass {op.pass_no}: {op.error}")
            elif op.write["columns"] != op.columns:
                failed.append(
                    f"{op.query} pass {op.pass_no}: timed action computes "
                    f"{op.write['columns']}, query outputs {op.columns}"
                )
            elif op.query in check_failures:
                failed.append(f"{op.query} pass {op.pass_no}: {check_failures[op.query]}")
        return failed

    def peak_rss_mb(self) -> float:
        from perfbench.probes import read_vm_hwm_kb

        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (read_vm_hwm_kb(jvm_pid) + read_vm_hwm_kb()) / 1024

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # --- metrics -------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict:
        return {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": median(self.pass_s), "unit": "s"},
        }

    def per_layer(self, input_rows: dict[str, int], rss_mb: float) -> tuple[dict, list[dict]]:
        """Per-operation layer counters from the event log and listeners,
        plus their per-pass totals over the workload."""
        from perfbench.probes import parse_event_log

        groups = parse_event_log(self.event_dir)
        wl = self.args.workload
        streams = self.streams
        by_op: dict[tuple[str, int], list[str]] = {}
        for run_id, owner in streams.owner.items():
            if owner is not None:
                by_op.setdefault(owner, []).append(run_id)

        rows = []
        for op in self.runs:
            key_build = (f"{wl}:{op.query}:build", f"pass={op.pass_no}")
            key_exec = (f"{wl}:{op.query}:exec", f"pass={op.pass_no}")
            build, exe = groups.get(key_build, {}), groups.get(key_exec, {})
            run_ids = by_op.get((op.query, op.pass_no), [])
            stream_groups = [g for (gid, _), g in groups.items() if gid in run_ids]
            triggers = [t for r in run_ids for t in streams.progress.get(r, [])]
            row = {
                "query": op.query,
                "pass": op.pass_no,
                "error": op.error,
                "build_s": op.build_s,
                "build_jobs": build.get("jobs", 0) + sum(g.get("jobs", 0) for g in stream_groups),
                "catalyst_ms": sum(e - b for b, e in (op.write or {}).get("catalyst_phases", {}).values()),
                "exec_s": op.exec_s,
                "persists_released": op.released,
                "batches": len(triggers),
                "state_rows_total": max((t["state_rows"] for t in triggers), default=0),
                "state_memory_bytes": max((t["state_memory_bytes"] for t in triggers), default=0),
                "input_rows_streamed": sum(t["rows"] for t in triggers),
                "data_batch_ms": [
                    t["duration_ms"].get("triggerExecution", 0) for t in triggers if t["rows"] > 0
                ],
            }
            for name in EXEC_COUNTERS:
                row[name] = exe.get(name, 0)
            for name in SOURCE_COUNTERS:
                row[name] = build.get(name, 0) + exe.get(name, 0) + sum(
                    g.get(name, 0) for g in stream_groups
                )
            for name, phase in STREAM_PHASES.items():
                row[name] = sum(t["duration_ms"].get(phase, 0) for t in triggers)
            rows.append(row)

        passes = len(self.pass_s)
        metrics: dict[str, dict] = {}

        def put(name: str, value: float, unit: str) -> None:
            metrics[name] = {"value": value, "unit": unit}

        layer_units = {
            "build_s": "s", "build_jobs": "count", "catalyst_ms": "ms", "exec_s": "s",
            "jobs": "count", "stages": "count", "tasks": "count", "task_cpu_s": "s",
            "task_run_s": "s", "jvm_gc_s": "s", "shuffle_read_bytes": "bytes",
            "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "input_bytes": "bytes",
            "input_rows": "count", "persists_released": "count", "batches": "count",
            "state_rows_total": "count", "state_memory_bytes": "bytes",
            **{name: "ms" for name in STREAM_PHASES},
        }
        for name, unit in layer_units.items():
            put(f"pass.{name}", sum(r[name] for r in rows) / passes, unit)
        put("traced.pass_s", median(self.pass_s), "s")
        put(
            "traced.query_ms.p50",
            median([op.latency_s * 1e3 for op in self.runs if op.error is None]),
            "ms",
        )
        put("driver.peak_rss_mb", rss_mb, "MB")
        for query in ALL_QUERIES:
            mine = [r for r in rows if r["query"] == query]
            for name, unit in (("build_s", "s"), ("exec_s", "s"), ("task_cpu_s", "s")):
                put(f"{query}.{name}", sum(r[name] for r in mine) / passes if mine else 0.0, unit)

        batch_ms = [b for r in rows for b in r["data_batch_ms"]]
        trigger_total = sum(r["trigger_ms"] for r in rows)
        put("streaming.batch_ms.p50", median(batch_ms), "ms")
        put(
            "streaming.fold_rows_per_s",
            sum(r["input_rows_streamed"] for r in rows) / (trigger_total / 1e3) if trigger_total else 0.0,
            "1/s",
        )

        def per_second(query: str, units: int) -> float:
            lat = [op.latency_s for op in self.runs if op.query == query and op.error is None]
            return units / median(lat) if lat else 0.0

        from full_data_infrastructure_spark.operators.similarity import N_QUERIES

        put("llm.docs_per_s", per_second("corpus_pipeline_lsh", input_rows["documents"]), "1/s")
        put("llm.knn_queries_per_s", per_second("knn_ivfpq", N_QUERIES), "1/s")
        return metrics, rows

    def write_trace(self, rows: list[dict], metrics: dict) -> Path:
        from perfbench.probes import Spans

        spans = Spans()
        streams = self.streams
        for op, row in zip(self.runs, rows):
            end = op.exec_start + op.exec_s if op.error is None else op.start + op.build_s
            root = spans.add("operation", op.start, end, query=op.query, pass_no=op.pass_no,
                             **{k: v for k, v in row.items() if k not in ("query", "pass", "data_batch_ms")})
            build = spans.add("build", op.start, op.start + op.build_s, root)
            for run_id, owner in streams.owner.items():
                if owner != (op.query, op.pass_no):
                    continue
                for t in streams.progress.get(run_id, []):
                    dur = t["duration_ms"].get("triggerExecution", 0) / 1e3
                    start = _iso_epoch(t["timestamp"])
                    spans.add("trigger", start, start + dur, build, run_id=run_id,
                              batch=t["batch"], rows=t["rows"], duration_ms=t["duration_ms"])
            if op.error is None:
                exe = spans.add("exec", op.exec_start, end, root)
                for phase, (start_ms, end_ms) in (op.write or {}).get("catalyst_phases", {}).items():
                    spans.add(f"catalyst.{phase}", start_ms / 1e3, end_ms / 1e3, exe)
        out_dir = ROOT / ".perfbench" / "traces"
        out_dir.mkdir(parents=True, exist_ok=True)
        path = out_dir / f"{self.args.workload}-seed{self.args.seed}-{os.getpid()}.json"
        path.write_text(json.dumps({"metrics": metrics, "spans": spans.spans}, indent=1))
        return path


def _iso_epoch(stamp: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def passes_for(seconds: int) -> int:
    return max(1, int(seconds // NOMINAL_PASS_S))


def measure(args: argparse.Namespace, work: Path) -> dict:
    from perfbench.checks import check_outputs
    from perfbench.inputs import DUP_SHARE, make_inputs

    input_dir = work / "inputs"
    t = time.perf_counter()
    input_rows = make_inputs(args.seed, input_dir)
    gen_s = time.perf_counter() - t
    keep_writes_in(work)

    h = Harness(args, work, input_dir)
    try:
        h.start()
        setup_s = time.perf_counter() - T0 - gen_s
        h.run_passes(passes_for(args.seconds))
        probe_error = h.match_writes()
        if h.streams is not None and not h.streams.wait_terminated():
            probe_error = probe_error or "streaming progress incomplete"
        t = time.perf_counter()
        check_failures = check_outputs(h.last_df, input_dir)
        check_s = time.perf_counter() - t
        h.last_df.clear()
        rss_mb = h.peak_rss_mb()
    finally:
        if hasattr(h, "spark"):
            h.stop()

    failed = h.failures(check_failures) if probe_error is None else []
    for line in failed:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    if probe_error is not None:
        print(f"perfbench: {probe_error}", file=sys.stderr)
    if h.trace:
        metrics, rows = h.per_layer(input_rows, rss_mb)
        path = h.write_trace(rows, metrics)
        print(f"perfbench: spans written to {path.relative_to(ROOT)}", file=sys.stderr)
    else:
        metrics = h.end_to_end(setup_s)
    print(
        f"perfbench: {args.workload} seed {args.seed}: {len(h.pass_s)} passes, "
        f"inputs {input_rows} (planted near-duplicate share {DUP_SHARE}), "
        f"input generation {gen_s:.2f}s, setup {setup_s:.2f}s, "
        f"pass walls {[round(x, 2) for x in h.pass_s]}, checks {check_s:.2f}s, "
        f"peak RSS {rss_mb:.0f} MB, total {time.perf_counter() - T0:.2f}s",
        file=sys.stderr,
    )
    return {
        "correct": probe_error is None,
        "attempted": len(h.runs),
        "failed": len(failed),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = program_missing()
    if missing is not None:
        print(f"perfbench: the program is not here ({missing} is missing)", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    try:
        result = measure(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
