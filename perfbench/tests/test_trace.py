"""Event-log parser and span attribution on a small recorded log: a
trimmed traced ``curate`` run (session start, the replay root, its
content-fingerprint and textstats spans).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import trace

DATA = Path(__file__).resolve().parent / "data"


@pytest.fixture(scope="module")
def recorded():
    log = trace.parse_event_log(DATA / "eventlog_small.jsonl")
    spans = json.loads((DATA / "spans_small.json").read_text())
    return log, spans


def test_parser_reads_jobs_and_tasks(recorded):
    log, _spans = recorded
    assert len(log["jobs"]) == 19
    assert sum(len(ts) for ts in log["tasks"].values()) == 67
    job = log["jobs"][99]
    assert job["desc"] == "span:8:lineage.content_fingerprint"
    assert job["submit_ms"] > 0 and job["stages"]
    task = log["tasks"][job["stages"][-1]][0]
    assert set(task) == {"run_ms", "cpu_ns", "gc_ms", "shuffle_read",
                         "shuffle_write", "spill", "duration_ms"}


def test_every_job_is_assigned(recorded):
    log, spans = recorded
    owner = trace.assign_jobs(log, spans)
    # jobs 0-12 carry the session warm-up's own description and are
    # placed by submission time inside the session span
    assert {owner[j] for j in range(13)} == {0}
    assert owner[99] == 8 and owner[150] == 6 and owner[182] == 6
    _per, summary = trace.span_task_metrics(log, spans)
    assert summary == {"jobs": 19, "jobs_unassigned": 0}


def test_module_metrics(recorded):
    log, spans = recorded
    per, _summary = trace.span_task_metrics(log, spans)
    mods = trace.module_metrics(per, spans, {s["id"] for s in spans})
    assert set(mods) == {"session", "jobs", "lineage", "textstats"}
    ts = mods["textstats"]
    assert ts["tasks"] == 4
    assert ts["executor_run_s"] == pytest.approx(1.415)
    assert 1.0 <= ts["task_skew"] < 1.1
    assert mods["session"]["tasks"] == 55
    only_root = trace.module_metrics(per, spans, {6})
    assert set(only_root) == {"jobs"}


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "name": "a.root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b.x", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b.y", "parent": 0, "start": 5.0, "end": 6.0},
        {"id": 3, "name": "c.z", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert trace.self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


def test_task_skew():
    assert trace.task_skew([[10]]) == 1.0
    assert trace.task_skew([[10, 10, 40], [5, 5]]) == 4.0


def test_recorder_sets_and_restores_descriptions():
    class SC:
        def __init__(self):
            self.seen = []

        def setJobDescription(self, d):
            self.seen.append(d)

    sc = SC()
    rec = trace.SpanRecorder(None, "r1")
    with rec.span("session.get_spark"):
        rec.attach(sc)
        with rec.span("kg.triples"):
            pass
    assert sc.seen == ["span:0:session.get_spark", "span:1:kg.triples",
                       "span:0:session.get_spark", None]
    assert [s["parent"] for s in rec.spans] == [None, 0]
    assert all(s["run_id"] == "r1" and s["end"] >= s["start"] for s in rec.spans)


def test_benchmark_json_lists_the_emitted_metrics():
    from perfbench import replay, run

    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        run.END_TO_END.items())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in replay.PER_LAYER]
