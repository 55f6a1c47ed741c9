"""Spans, Spark job groups and event-log counters for the traced run.

The benchmark records spans from its own files only, around each call
into an engine layer: ``registry`` (query construction), ``sources``
(``load_table`` / ``corpus_from_documents`` calls made while a query is
built), ``catalyst`` (forcing ``queryExecution.executedPlan``),
``exec`` (the action that runs the plan) and ``sinks`` (the writers in
``sources/sinks.py``). Before each call it sets the Spark job group
``<query id>:<phase>``, so every job and task in the Spark event log is
attributed to the phase that fired it.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time

# layer name -> job-group phase suffix
PHASES = {
    "registry": "build",
    "sources": "load",
    "catalyst": "plan",
    "exec": "exec",
    "sinks": "sink",
}
_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    sets no job groups, so untraced runs pay only a context manager."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._qid: str | None = None

    @contextlib.contextmanager
    def query(self, qid: str, name: str):
        self._qid = qid
        try:
            with self.span("query", name=name):
                yield
        finally:
            self._qid = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.enabled:
            yield
            return
        phase = PHASES.get(layer)
        prev_group = self.sc.getLocalProperty(_GROUP_PROP)
        if phase:
            self.sc.setJobGroup(f"{self._qid}:{phase}", name or layer)
        span = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "qid": self._qid,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            if phase:
                self.sc.setLocalProperty(_GROUP_PROP, prev_group)

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def total(self, layer: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["layer"] == layer)


@contextlib.contextmanager
def traced_loaders(tracer: Tracer, package: str):
    """Wrap the sources-layer entry points wherever the engine's
    modules bound them, so calls made inside a query's construction
    get a ``sources`` span; the originals are restored on exit."""
    from mapreduce_implementation_grpc_spark.sources import catalog, text

    originals = [catalog.load_table, text.corpus_from_documents, text.read_text_corpus]

    def wrap(fn):
        def traced(*args, **kwargs):
            with tracer.span("sources", fn.__name__):
                return fn(*args, **kwargs)

        return traced

    wrappers = {id(fn): wrap(fn) for fn in originals}
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(package):
            continue
        for attr, value in list(vars(mod).items()):
            if id(value) in wrappers:
                setattr(mod, attr, wrappers[id(value)])
                patched.append((mod, attr, value))
    try:
        yield
    finally:
        for mod, attr, value in patched:
            setattr(mod, attr, value)


# --- event log ------------------------------------------------------------


def _phase_of(group: str | None) -> str | None:
    if not group or ":" not in group:
        return None
    return group.rsplit(":", 1)[1]


def _events(path: str):
    with open(path) as f:
        for line in f:
            yield json.loads(line)


def parse_event_log(path: str) -> dict:
    """Aggregate job, stage and task counters per phase from a Spark
    JSON event log (uncompressed)."""
    stage_phase: dict[int, str] = {}
    jobs: dict[str, int] = {}
    group_jobs: dict[str, list] = {}
    stages: dict[str, int] = {}
    tasks_by_stage: dict[tuple[int, int], list[dict]] = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_GROUP_PROP)
            phase = _phase_of(group)
            if phase is None:
                continue
            jobs[phase] = jobs.get(phase, 0) + 1
            group_jobs.setdefault(group, []).append(len(ev["Stage IDs"]))
            for sid in ev["Stage IDs"]:
                stage_phase.setdefault(sid, phase)
        elif kind == "SparkListenerStageCompleted":
            phase = stage_phase.get(ev["Stage Info"]["Stage ID"])
            if phase is not None:
                stages[phase] = stages.get(phase, 0) + 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            tasks_by_stage.setdefault(key, []).append(ev)
    per_phase: dict[str, dict] = {}
    for (sid, _attempt), evs in tasks_by_stage.items():
        phase = stage_phase.get(sid)
        if phase is None:
            continue
        acc = per_phase.setdefault(phase, _empty_counters())
        durations = []
        for ev in evs:
            _add_task(acc, ev)
            info = ev["Task Info"]
            durations.append(max(info["Finish Time"] - info["Launch Time"], 1))
        if len(durations) >= 2:
            skew = max(durations) / statistics.median(durations)
            acc["task_skew"] = max(acc["task_skew"], skew)
    return {"jobs": jobs, "stages": stages, "tasks": per_phase, "group_jobs": group_jobs}


def _empty_counters() -> dict:
    return {
        "tasks": 0,
        "failed_tasks": 0,
        "task_run_s": 0.0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "input_bytes": 0,
        "input_records": 0,
        "output_bytes": 0,
        "shuffle_write_bytes": 0,
        "shuffle_write_records": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "peak_exec_mem_bytes": 0,
        "python_bytes": 0,
        "task_skew": 1.0,
    }


_PYTHON_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")


def _add_task(acc: dict, ev: dict) -> None:
    acc["tasks"] += 1
    if ev["Task End Reason"]["Reason"] != "Success":
        acc["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    acc["peak_exec_mem_bytes"] = max(acc["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
    inp = m.get("Input Metrics") or {}
    acc["input_bytes"] += inp.get("Bytes Read", 0)
    acc["input_records"] += inp.get("Records Read", 0)
    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    for a in ev["Task Info"].get("Accumulables", []):
        if a.get("Name") in _PYTHON_ACCUMULABLES:
            acc["python_bytes"] += int(a.get("Update", 0))


def merge_counters(per_phase: dict, phases) -> dict:
    out = _empty_counters()
    for phase in phases:
        acc = per_phase.get(phase)
        if acc is None:
            continue
        for k, v in acc.items():
            if k in ("peak_exec_mem_bytes", "task_skew"):
                out[k] = max(out[k], v)
            else:
                out[k] += v
    return out
