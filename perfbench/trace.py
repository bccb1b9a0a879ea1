"""Span recorder and a stdlib parser for Spark's JSON event log.

Spans wrap calls into the program from the benchmark's own code; nothing
inside the program is instrumented.  Each span sets the Spark job
description to ``span:<id>:<name>``, so every job (and through it every
stage and task) in the event log names the span that caused it.  Jobs
without such a description -- the program may set its own -- fall back to
the innermost span whose interval holds the job's submission time.

A span name is ``<module>.<call>``; the module (the text before the first
dot) is the layer its Spark metrics are summed into.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from pathlib import Path

DESC_PREFIX = "span:"


class SpanRecorder:
    """Nested spans (name, start, end, parent, run id), kept in memory."""

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def attach(self, sc) -> None:
        """Bind the SparkContext once the session exists (the session
        start itself runs inside a span)."""
        self.sc = sc
        self._describe()

    def _describe(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            top = self.spans[self._stack[-1]]
            self.sc.setJobDescription(f"{DESC_PREFIX}{top['id']}:{top['name']}")
        else:
            self.sc.setJobDescription(None)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._describe()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._describe()

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, indent=1))


def span(rec: SpanRecorder | None, name: str, **attrs):
    """``rec.span(...)``, or a no-op context when not tracing."""
    return rec.span(name, **attrs) if rec is not None else nullcontext({})


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its (sequential) children cover."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def module_of(name: str) -> str:
    return name.split(".", 1)[0]


# -- event log ---------------------------------------------------------------


def parse_event_log(path: Path) -> dict:
    """Jobs and per-stage task metrics from one uncompressed event log.

    Returns {"jobs": {job_id: {"desc", "submit_ms", "stages"}},
    "tasks": {stage_id: [task dict]}} where a task dict holds run_ms,
    cpu_ns, gc_ms, shuffle_read, shuffle_write, spill (bytes) and
    duration_ms.  Only job-start and task-end lines are decoded; the SQL
    plan events that make up most of the log are skipped unread."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            head = line[:48]
            if '"SparkListenerJobStart"' in head:
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "submit_ms": ev.get("Submission Time"),
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif '"SparkListenerTaskEnd"' in head:
                ev = json.loads(line)
                m = ev.get("Task Metrics")
                if not m:
                    continue
                info = ev["Task Info"]
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                tasks[ev["Stage ID"]].append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0),
                    "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "duration_ms": info.get("Finish Time", 0)
                    - info.get("Launch Time", 0),
                })
    return {"jobs": jobs, "tasks": dict(tasks)}


def assign_jobs(log: dict, spans: list[dict]) -> dict[int, int | None]:
    """Job id -> span id (None when no span covers the job)."""
    out: dict[int, int | None] = {}
    for job_id, job in log["jobs"].items():
        desc = job["desc"] or ""
        if desc.startswith(DESC_PREFIX):
            out[job_id] = int(desc[len(DESC_PREFIX):].split(":", 1)[0])
            continue
        t = (job["submit_ms"] or 0) / 1000.0
        covering = [s for s in spans if s["start"] <= t <= (s["end"] or t)]
        # innermost = latest start among the covering spans
        out[job_id] = max(covering, key=lambda s: s["start"])["id"] if covering else None
    return out


def _stage_owner(log: dict, job_span: dict) -> dict[int, int | None]:
    """Stage id -> span id.  A stage listed by several jobs (skipped in
    the later ones) belongs to the first job that listed it, which is the
    one that ran its tasks."""
    owner: dict[int, int | None] = {}
    for job_id in sorted(log["jobs"]):
        for st in log["jobs"][job_id]["stages"]:
            owner.setdefault(st, job_span[job_id])
    return owner


def span_task_metrics(log: dict, spans: list[dict]) -> tuple[dict, dict]:
    """(per-span task totals, assignment summary).

    Per span: executor_run_s, executor_cpu_s, gc_s, shuffle_read_mb,
    shuffle_write_mb, spill_mb, tasks, and the per-stage task durations
    (for skew).  Summary: jobs, jobs_unassigned."""
    job_span = assign_jobs(log, spans)
    owner = _stage_owner(log, job_span)
    per: dict[int | None, dict] = defaultdict(lambda: {
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "tasks": 0, "stage_durations": [],
    })
    for stage_id, ts in log["tasks"].items():
        acc = per[owner.get(stage_id)]
        acc["executor_run_s"] += sum(t["run_ms"] for t in ts) / 1e3
        acc["executor_cpu_s"] += sum(t["cpu_ns"] for t in ts) / 1e9
        acc["gc_s"] += sum(t["gc_ms"] for t in ts) / 1e3
        acc["shuffle_read_mb"] += sum(t["shuffle_read"] for t in ts) / 1e6
        acc["shuffle_write_mb"] += sum(t["shuffle_write"] for t in ts) / 1e6
        acc["spill_mb"] += sum(t["spill"] for t in ts) / 1e6
        acc["tasks"] += len(ts)
        acc["stage_durations"].append([t["duration_ms"] for t in ts])
    summary = {
        "jobs": len(job_span),
        "jobs_unassigned": sum(1 for s in job_span.values() if s is None),
    }
    return dict(per), summary


def task_skew(stage_durations: list[list[int]]) -> float:
    """Largest max/median task duration over stages with >= 2 tasks
    (1.0 when no stage has two tasks)."""
    worst = 1.0
    for ds in stage_durations:
        if len(ds) >= 2:
            med = statistics.median(ds)
            if med > 0:
                worst = max(worst, max(ds) / med)
    return worst


def module_metrics(per_span: dict, spans: list[dict], span_ids: set) -> dict:
    """Spark metrics summed per module over the spans in ``span_ids``."""
    names = {s["id"]: s["name"] for s in spans}
    out: dict[str, dict] = {}
    for sid, acc in per_span.items():
        if sid not in span_ids:
            continue
        mod = out.setdefault(module_of(names[sid]), {
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "tasks": 0, "stage_durations": [],
        })
        for k, v in acc.items():
            mod[k] = mod[k] + v
    for mod in out.values():
        mod["task_skew"] = task_skew(mod.pop("stage_durations"))
    return out


def find_event_log(log_dir: Path) -> Path:
    """The one event log under ``log_dir`` (rolling logs are disabled)."""
    logs = [p for p in log_dir.rglob("*")
            if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]
