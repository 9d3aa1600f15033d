"""Span arithmetic and event-log task metrics, without Spark."""

import json

import pytest

from kgbench.spans import Span, Tracer, task_metrics


def test_self_time_subtracts_union_of_children():
    tr = Tracer()
    tr.run = "build"
    tr.spans = [
        Span("linking", 0.0, 10.0, None, "build"),
        Span("linking.vocab", 1.0, 3.0, "linking", "build"),
        Span("linking.cc", 2.0, 5.0, "linking", "build"),  # overlaps vocab
        Span("tagging", 10.0, 12.0, None, "build"),
        Span("linking", 20.0, 21.0, None, "other"),
    ]
    st = tr.self_times()
    assert st["linking"] == pytest.approx(10.0 - 4.0 + 1.0)
    assert st["linking.vocab"] == pytest.approx(2.0)
    wall, top = tr.window("build")
    assert wall == pytest.approx(12.0)
    assert top == pytest.approx(12.0)


def test_nested_spans_record_parent():
    tr = Tracer()
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("b", "a"), ("a", None)]


def _task(stage, run_ms, cpu_ns=0, gc_ms=0, shuffle=0, spill=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    })


def _stage(stage, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerStageSubmitted",
                       "Stage Info": {"Stage ID": stage}, "Properties": props})


def test_task_metrics_per_group():
    lines = [
        _stage(0, "tagging"), _stage(1, "tagging"), _stage(2, None),
        _task(0, 10, cpu_ns=2e9, gc_ms=500, shuffle=100, spill=1),
        _task(0, 10), _task(1, 100), _task(1, 100), _task(1, 400),
        _task(2, 1000, cpu_ns=9e9),
    ]
    m = task_metrics(lines)
    assert set(m) == {"tagging"}
    t = m["tagging"]
    assert t["cpu_s"] == pytest.approx(2.0)
    assert t["gc_s"] == pytest.approx(0.5)
    assert t["shuffle_write_bytes"] == 100
    assert t["spill_bytes"] == 2
    assert t["task_skew"] == pytest.approx(4.0)  # stage 1: 400 / median 100
