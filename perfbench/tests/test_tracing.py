"""Span self-time arithmetic and the event-log parser."""

import json

import pytest

import tracing


def test_union_length_merges_overlaps():
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 1), (2, 3)]) == 2.0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert tracing.union_length([(0, 10), (2, 3)]) == 10.0


def test_clip_keeps_the_part_inside():
    assert tracing.clip([(0, 5), (6, 9), (10, 12)], 2, 7) == [(2, 5), (6, 7)]


def _tracer(spans):
    t = tracing.Tracer()
    for sid, (name, start, end, parent) in enumerate(spans):
        t.spans.append(tracing.Span(name, start, end, parent, 0, sid))
    return t


def test_self_time_subtracts_children_once():
    t = _tracer(
        [
            ("op", 0.0, 10.0, None),
            ("build", 1.0, 4.0, 0),
            ("exec", 3.0, 9.0, 0),  # overlaps build by 1 s
            ("inner", 5.0, 6.0, 2),
        ]
    )
    assert t.self_time(t.spans[0]) == pytest.approx(10.0 - 8.0)
    assert t.self_time(t.spans[2]) == pytest.approx(6.0 - 1.0)
    assert t.self_time(t.spans[1]) == pytest.approx(3.0)
    assert t.self_time(t.spans[3]) == pytest.approx(1.0)


def test_child_spanning_outside_parent_is_clipped():
    t = _tracer([("op", 0.0, 2.0, None), ("late", 1.5, 3.0, 0)])
    assert t.self_time(t.spans[0]) == pytest.approx(1.5)


def test_recorded_spans_nest_and_inherit_the_op():
    t = tracing.Tracer()
    with t.span("op", op=7):
        with t.span("build"):
            pass
    op, build = t.spans
    assert build.parent == op.sid and build.op == 7
    assert op.start <= build.start <= build.end <= op.end


def test_parse_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1100, "Finish Time": 1900,
                       "Accumulables": [{"Name": "time to run Python workers", "Update": 250}]},
         "Task Metrics": {"Executor Run Time": 700, "Executor CPU Time": 5e8, "JVM GC Time": 20,
                          "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 99}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = tracing.parse_event_log(str(tmp_path))
    (job,) = log.jobs
    assert (job.start, job.end) == (1.0, 2.0)
    (task,) = tracing.tasks_in(log, 1.0, 2.0)
    assert task.run_s == 0.7 and task.cpu_s == 0.5 and task.gc_s == 0.02
    assert task.spill_bytes == 7 and task.shuffle_bytes == 99 and task.python_s == 0.25
    assert tracing.jobs_in(log, 1.5, 3.0) == []
