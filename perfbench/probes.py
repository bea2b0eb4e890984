"""Measurement probes that sit outside the package, at its public boundary.

* :class:`NoopWriteProbe` — a JVM ``QueryExecutionListener`` (through the
  py4j callback server) that sees every timed action: the columns the
  ``noop`` write's optimized plan actually computes, and the Catalyst
  phase times of that action.
* :class:`StreamProbe` — a ``StreamingQueryListener`` that attributes
  each micro-batch's progress to the operation that started the stream,
  by the stream's ``runId``.
* :func:`parse_event_log` — per job group task counters from a Spark
  event log written during a traced run.
* :class:`Spans` — in-memory spans with parent ids.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

NOOP_TABLE = "noop-table"


def _scala_map(m) -> dict:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


class NoopWriteProbe:
    """Records, in completion order, each ``noop``-sink write's computed
    output columns and the epoch-ms start and end of its Catalyst phases
    (analysis, optimization, planning).  Every other action is ignored
    after one string compare, so builder-internal jobs pay almost nothing."""

    def __init__(self) -> None:
        self.writes: list[dict] = []
        self.errors: list[str] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        if func_name != "overwrite":
            return
        try:
            plan = qe.optimizedPlan()
            if plan.nodeName() != "OverwriteByExpression" or plan.table().name() != NOOP_TABLE:
                return
            out = plan.query().output()
            cols = [out.apply(i).name() for i in range(out.size())]
            phases = {
                name: (summary.startTimeMs(), summary.endTimeMs())
                for name, summary in _scala_map(qe.tracker().phases()).items()
            }
            self.writes.append({"columns": cols, "catalyst_phases": phases})
        except Exception as exc:  # a listener must never throw into the JVM bus
            self.errors.append(repr(exc))

    def onFailure(self, func_name, qe, exception) -> None:
        if func_name == "overwrite":
            self.writes.append({"columns": None, "catalyst_phases": {}})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def attach_noop_probe(spark) -> NoopWriteProbe:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    probe = NoopWriteProbe()
    spark._jsparkSession.listenerManager().register(probe)
    return probe


def drain_listener_bus(spark) -> None:
    """Block until every posted listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class StreamProbe(StreamingQueryListener):
    """Per-trigger progress grouped by ``runId``.

    ``onQueryStarted`` runs synchronously inside ``DataStreamWriter.start``,
    so the operation current at that moment owns the stream.  Progress
    events arrive later and asynchronously; they are attributed through
    the ``runId`` they carry, never by when they arrive."""

    def __init__(self) -> None:
        self.current: tuple[str, int] | None = None
        self.owner: dict[str, tuple[str, int] | None] = {}
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.owner[str(event.runId)] = self.current

    def onQueryProgress(self, event) -> None:
        p = event.progress
        record = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self.progress[str(p.runId)].append(record)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def wait_terminated(self, timeout_s: float = 60.0) -> bool:
        """Wait until every started stream's termination was delivered;
        events of one stream arrive in order, so its progress is then
        complete."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.owner) <= self.terminated:
                    return True
            time.sleep(0.05)
        return False


def read_vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (``VmHWM``) of a process, in KiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def parse_event_log(log_dir: Path) -> dict[tuple[str, str], dict[str, float]]:
    """Sum jobs, stages and task counters per ``(job group, description)``.

    Job groups are set by the harness (``<workload>:<query>:<phase>`` with
    description ``pass=<n>``) or, for jobs a streaming query runs, by
    Spark itself (the query's ``runId``)."""
    files = [f for f in log_dir.iterdir() if f.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_key: dict[int, tuple[str, str]] = {}
    totals: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with files[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                key = (props.get("spark.jobGroup.id") or "", props.get("spark.job.description") or "")
                totals[key]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_key.setdefault(sid, key)
            elif kind == "SparkListenerStageCompleted":
                key = stage_key.get(ev["Stage Info"]["Stage ID"])
                if key is not None:
                    totals[key]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if key is None or not m:
                    continue
                t = totals[key]
                t["tasks"] += 1
                t["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                t["task_run_s"] += m["Executor Run Time"] / 1e3
                t["jvm_gc_s"] += m["JVM GC Time"] / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics", {})
                t["input_bytes"] += im.get("Bytes Read", 0)
                t["input_rows"] += im.get("Records Read", 0)
    return totals


class Spans:
    """Spans with parent ids, kept in memory until the run writes them out."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        span_id = len(self.spans) + 1
        self.spans.append(
            {"id": span_id, "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return span_id
