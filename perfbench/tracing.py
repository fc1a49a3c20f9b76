"""Spans, streaming-progress and Spark event-log readers for the traced run.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, shared
run id) and writes them out once, when the run ends. The untraced run uses
a disabled tracer whose ``span`` is a no-op, so end-to-end numbers are
measured without it.

:func:`read_event_log` folds an uncompressed Spark event log into one
record per job (job group, description, submit/end time, task totals and
the SQL accumulables such as "data sent to Python workers").
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from datetime import datetime

# MicroBatchExecution runs these phases in this order inside one trigger;
# the progress event reports their durations only, so trace spans lay them
# end to end from the trigger start.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        # open spans per thread: the sink callable runs on a py4j callback
        # thread while the main thread is inside its own spans
        self._open = threading.local()

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append({"id": sid, "parent": parent, "run_id": self.run_id,
                           "name": name, "start": start, "end": end, **attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._open.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "parent": stack[-1] if stack else None,
               "run_id": self.run_id, "name": name, "start": time.time(),
               "end": None, **attrs}
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def progress_time(p: dict) -> float:
    """Trigger start of a progress record, in epoch seconds."""
    ts = p["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


def commit_time(p: dict) -> float:
    """End of the trigger (its offsets are committed inside it)."""
    return progress_time(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def end_offsets(p: dict) -> dict[int, int]:
    src = p["sources"][0]
    off = src.get("endOffset")
    if isinstance(off, str):
        off = json.loads(off)
    return {int(k): int(v) for k, v in (off or {}).items()}


def add_trigger_spans(tracer: Tracer, progress: list[dict], parent=None,
                      jobs: dict | None = None) -> None:
    """One ``trigger`` span per progress record, with its ``durationMs``
    phases as children, charged with the executor totals of the jobs that
    ran for its (runId, batch). ``sink.write_batch`` spans of the same batch
    become children of the trigger."""
    charged: dict = {}
    for j in (jobs or {}).values():
        tot = charged.setdefault((j["group"], batch_of(j)), dict.fromkeys(_CHARGED, 0))
        for k in _CHARGED:
            tot[k] += j[k]
    for p in progress:
        t0 = progress_time(p)
        sid = tracer.add("trigger", t0, commit_time(p), parent=parent,
                         batch_id=p["batchId"], rows=p.get("numInputRows", 0),
                         **charged.get((p["runId"], p["batchId"]), {}))
        for s in tracer.spans:
            if s["name"] == "sink.write_batch" and s["batch_id"] == p["batchId"]:
                s["parent"] = sid
        t = t0
        for ph in PHASES:
            ms = p["durationMs"].get(ph)
            if ms is None:
                continue
            tracer.add(f"trigger.{ph}", t, t + ms / 1000.0, parent=sid)
            t += ms / 1000.0


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order. Spark 4 writes a
    rolling log: a directory of ``events_<n>_<app>`` files."""
    if not os.path.isdir(log_dir):
        return []
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [n for n in os.listdir(path) if n.startswith("events_")]
            parts.sort(key=lambda n: int(n.split("_")[1]))
            out += [os.path.join(path, n) for n in parts]
        elif not name.startswith("."):
            out.append(path)
    return out


_CHARGED = ("run_ms", "cpu_ns", "gc_ms", "spill_bytes", "shuffle_write_bytes")
_TASK_KEYS = {
    "Executor Run Time": "run_ms",
    "Executor CPU Time": "cpu_ns",
    "JVM GC Time": "gc_ms",
    "Memory Bytes Spilled": "spill_bytes",
    "Disk Bytes Spilled": "spill_bytes",
}


def read_event_log(paths: list[str]) -> dict[int, dict]:
    """Per-job totals from the files of a Spark JSON event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_parents: dict[int, list] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "description": props.get("spark.job.description") or "",
                "submit": ev.get("Submission Time", 0) / 1000.0,
                "end": None,
                "leaf_run_ms": 0,
                "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "spill_bytes": 0,
                "shuffle_write_bytes": 0, "accum": {},
            }
            for st in ev.get("Stage Infos", []):
                stage_job[st["Stage ID"]] = jid
                stage_parents[st["Stage ID"]] = st.get("Parent IDs", [])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            job = jobs[jid]
            tm = ev.get("Task Metrics") or {}
            for src, dst in _TASK_KEYS.items():
                job[dst] += int(tm.get(src, 0) or 0)
            job["shuffle_write_bytes"] += int(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) or 0
            )
            if not stage_parents.get(ev["Stage ID"]):
                job["leaf_run_ms"] += int(tm.get("Executor Run Time", 0) or 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                upd = acc.get("Update")
                if name and isinstance(upd, (int, str)):
                    try:
                        v = int(upd)
                    except ValueError:
                        continue
                    job["accum"][name] = job["accum"].get(name, 0) + v
    return jobs


def _lines(paths):
    for path in paths:
        with open(path) as f:
            yield from f


def batch_of(job: dict) -> int | None:
    """Micro-batch id from a streaming job's description, if any."""
    for line in job["description"].splitlines():
        line = line.strip()
        if line.startswith("batch = "):
            return int(line.split("=", 1)[1])
    return None
