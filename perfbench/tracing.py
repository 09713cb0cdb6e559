"""Measurement pieces shared by the workloads.

* ``percentile`` — the interpolation rule every reported percentile uses.
* ``Py4jCallCounter`` — counts py4j *call* commands (``c\\n``) sent to the
  JVM.  Memory and detach commands are left out: their number depends on
  when Python's garbage collector runs, so a total including them does not
  repeat from run to run.
* ``Tracer`` — in-memory spans (name, start, end, parent, run id) around
  calls into the engine's layers, written out when the run ends.
* ``ProgressCollector`` — a ``StreamingQueryListener`` that keeps every
  query run's per-trigger progress records until the caller collects them.
* ``parse_event_log`` — stdlib-``json`` reader of Spark's event log that
  sums task, stage, shuffle and Python-worker metrics of the jobs a run
  tagged with a local property.
"""

from __future__ import annotations

import json
import math
import threading
import time
from contextlib import contextmanager

PHASE_PROPERTY = "perfbench.phase"
SPAN_PROPERTY = "perfbench.span"


def percentile(values, p: float) -> float:
    """Percentile by linear interpolation between the two nearest ranks
    (numpy's default rule): with a run's few samples it averages two
    neighbours instead of picking one, so one sample moves it less."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    pos = (len(ordered) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def is_call_command(command: str) -> bool:
    """True for a py4j call command (``CALL_COMMAND_NAME`` is ``c\\n``)."""
    return command.startswith("c\n")


class Py4jCallCounter:
    """Wraps ``send_command`` of the given py4j connection classes and
    counts the call commands that pass through it."""

    def __init__(self, *connection_classes):
        self._lock = threading.Lock()
        self.calls = 0
        self._patched = []
        for cls in connection_classes:
            original = cls.send_command

            def send_command(conn, command, *args, _original=original, **kwargs):
                if is_call_command(command):
                    with self._lock:
                        self.calls += 1
                return _original(conn, command, *args, **kwargs)

            cls.send_command = send_command
            self._patched.append((cls, original))

    @classmethod
    def for_py4j(cls) -> "Py4jCallCounter":
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        return cls(ClientServerConnection, GatewayConnection)

    def close(self) -> None:
        for conn_cls, original in self._patched:
            conn_cls.send_command = original
        self._patched = []


class Tracer:
    """Spans around calls into the engine's layers.  Disabled, ``span`` is
    a no-op, so untraced runs time only what they report."""

    def __init__(self, enabled: bool, run_id: str, counter: Py4jCallCounter | None = None):
        self.enabled = enabled
        self.run_id = run_id
        self.counter = counter
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        calls0 = self.counter.calls if self.counter else 0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = (self.counter.calls if self.counter else 0) - calls0
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus its children's time."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child[s["id"]]
        return out

    def durations(self, name: str) -> list[float]:
        """Durations of the spans called ``name``, in seconds."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def summarize_progress(records: list[dict]) -> dict:
    """Per-trigger progress records -> the ``streaming.*``/``state.*`` sums."""
    out = {
        "streaming.triggers": len(records),
        "streaming.no_data_triggers": 0,
        "streaming.input_rows": 0,
        "streaming.trigger_ms_sum": 0,
        "streaming.add_batch_ms_sum": 0,
        "streaming.planning_ms_sum": 0,
        "streaming.offset_ms_sum": 0,
        "streaming.log_commit_ms_sum": 0,
        "streaming.no_data_trigger_ms_sum": 0,
        "state.commit_ms_sum": 0,
        "state.update_ms_sum": 0,
        "state.remove_ms_sum": 0,
        "state.rows_max": 0,
        "state.memory_bytes_max": 0,
    }
    for r in records:
        d = r.get("durationMs", {})
        rows = r.get("numInputRows", 0)
        out["streaming.input_rows"] += rows
        out["streaming.trigger_ms_sum"] += d.get("triggerExecution", 0)
        out["streaming.add_batch_ms_sum"] += d.get("addBatch", 0)
        out["streaming.planning_ms_sum"] += d.get("queryPlanning", 0)
        out["streaming.offset_ms_sum"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        out["streaming.log_commit_ms_sum"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        if rows == 0:
            out["streaming.no_data_triggers"] += 1
            out["streaming.no_data_trigger_ms_sum"] += d.get("triggerExecution", 0)
        ops = r.get("stateOperators", [])
        out["state.commit_ms_sum"] += sum(o.get("commitTimeMs", 0) for o in ops)
        out["state.update_ms_sum"] += sum(o.get("allUpdatesTimeMs", 0) for o in ops)
        out["state.remove_ms_sum"] += sum(o.get("allRemovalsTimeMs", 0) for o in ops)
        out["state.rows_max"] = max(
            out["state.rows_max"], sum(o.get("numRowsTotal", 0) for o in ops)
        )
        out["state.memory_bytes_max"] = max(
            out["state.memory_bytes_max"], sum(o.get("memoryUsedBytes", 0) for o in ops)
        )
    return out


def make_progress_collector():
    """A ``ProgressCollector`` instance (built lazily: the base class comes
    from pyspark, which the pure parts of this module do not need).

    Listener events arrive asynchronously, so the collector keeps every
    query's records and a caller asks for one query once it has finished."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressCollector(StreamingQueryListener):
        # Keyed by run id: a query restarted on the same checkpoint keeps
        # its id, but every start has a run id of its own.
        def __init__(self):
            self._records: dict[str, list[dict]] = {}
            self._done: set[str] = set()
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            rec = json.loads(event.progress.json)
            with self._cv:
                self._records.setdefault(rec["runId"], []).append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self._done.add(str(event.runId))
                self._cv.notify_all()

        def finished(self, run_id: str, timeout: float = 60.0) -> list[dict]:
            """Wait until the query run has terminated, then return its
            progress records; its last progress event precedes its
            termination event."""
            with self._cv:
                if not self._cv.wait_for(lambda: run_id in self._done, timeout):
                    raise TimeoutError(f"no termination event for query run {run_id}")
                return list(self._records.get(run_id, []))

    return ProgressCollector()


_PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of output rows from Python workers": "python.rows_received",
    "time to start Python workers": "python.worker_start_ms_sum",
    "time to initialize Python workers": "python.worker_init_ms_sum",
    "time to run Python workers": "python.worker_run_ms_sum",
}


def parse_event_log(lines, phase: str = "measure") -> dict:
    """Sum execution metrics of the jobs whose ``perfbench.phase`` local
    property equals ``phase``; count those jobs per ``perfbench.span`` kind
    (``jobs_by_span``), and as ``driver.eager_jobs`` the ones a DataFrame
    build started."""
    stage_in_phase: set[int] = set()
    out = {
        "exec.jobs": 0,
        "exec.stages": 0,
        "exec.tasks": 0,
        "exec.task_run_ms_sum": 0,
        "exec.task_cpu_ms_sum": 0.0,
        "exec.gc_ms_sum": 0,
        "exec.shuffle_read_bytes": 0,
        "exec.shuffle_write_bytes": 0,
        "exec.spill_bytes": 0,
        "exec.task_skew_max": 1.0,
        **{key: 0 for key in _PY_METRICS.values()},
        "jobs_by_span": {},
    }
    task_ms: dict[int, list[int]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get(PHASE_PROPERTY) != phase:
                continue
            out["exec.jobs"] += 1
            stage_in_phase.update(ev.get("Stage IDs", []))
            kind = props.get(SPAN_PROPERTY) or ""
            out["jobs_by_span"][kind] = out["jobs_by_span"].get(kind, 0) + 1
        elif kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_in_phase:
                out["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            stage = ev.get("Stage ID")
            if stage not in stage_in_phase:
                continue
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            out["exec.tasks"] += 1
            out["exec.task_run_ms_sum"] += run_ms
            out["exec.task_cpu_ms_sum"] += m.get("Executor CPU Time", 0) / 1e6
            out["exec.gc_ms_sum"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            out["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            task_ms.setdefault(stage, []).append(run_ms)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    out[key] += int(acc.get("Update") or 0)
    for times in task_ms.values():
        med = sorted(times)[(len(times) - 1) // 2]
        if len(times) > 1 and med > 0:
            out["exec.task_skew_max"] = max(out["exec.task_skew_max"], max(times) / med)
    out["driver.eager_jobs"] = out["jobs_by_span"].get("build", 0)
    out["exec.task_cpu_ms_sum"] = round(out["exec.task_cpu_ms_sum"], 3)
    out["exec.task_skew_max"] = round(out["exec.task_skew_max"], 4)
    return out
