"""Span recording and job attribution, checked without Spark.

Run: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def test_spans_nest_and_inherit_the_op_id():
    t = spans.Tracer()
    with t.span("outer", op="q1") as outer:
        with t.span("inner") as inner:
            pass
    with t.span("next", op="q2"):
        pass
    assert inner["parent"] == outer["id"] and inner["op"] == "q1"
    assert [s["parent"] for s in t.spans] == [None, outer["id"], None]
    assert all(s["t1"] >= s["t0"] for s in t.spans)


def test_patch_wraps_calls_and_unpatch_restores():
    mod = types.SimpleNamespace(work=lambda x: x * 2)
    orig = mod.work
    t = spans.Tracer()
    t.patch(mod, "work", "layer.work", new_op=True)
    assert mod.work(2) == 4 and mod.work(3) == 6
    assert [s["op"] for s in t.spans] == ["layer.work#0", "layer.work#1"]
    t.unpatch()
    assert mod.work is orig


def _job(t0, t1, **kw):
    rec = {c: 0 for c in spans.COUNTERS[1:]}
    rec.update(kw)
    return {"job": 0, "t0": t0, "t1": t1, **rec}


def test_jobs_go_to_the_innermost_open_span():
    recorded = [
        {"id": 0, "name": "batch", "op": "b", "parent": None, "t0": 0.0, "t1": 10.0},
        {"id": 1, "name": "upsert", "op": "b", "parent": 0, "t0": 2.0, "t1": 6.0},
    ]
    jobs = [
        _job(1.0, 2.0, tasks=4, cpu_s=0.5),   # batch only
        _job(3.0, 5.0, tasks=8, cpu_s=1.0),   # inside the upsert
        _job(4.0, 5.5, tasks=2, cpu_s=0.25),  # inside the upsert, overlapping
        _job(20.0, 21.0, tasks=99),           # outside every span
    ]
    per = spans.attribute(recorded, jobs)
    assert (per[0]["jobs"], per[0]["tasks"]) == (1, 4)
    assert (per[1]["jobs"], per[1]["tasks"]) == (2, 10)
    assert per[1]["job_union_s"] == pytest.approx(2.5)
    up = spans.rollup(recorded, per, 1)
    assert up["driver_gap_s"] == pytest.approx(4.0 - 2.5)
    whole = spans.rollup(recorded, per, 0)
    assert (whole["jobs"], whole["tasks"], whole["cpu_s"]) == (3, 14, 1.75)
    assert sorted(whole["job_s"]) == [1.0, 1.5, 2.0]
    assert whole["driver_gap_s"] == pytest.approx(10.0 - 1.0 - 2.5)
