"""Checks of the traced run's arithmetic on a hand-made span set and
event log.  Run with ``python3 -m pytest perfbench/test_arithmetic.py``;
no Spark session is needed."""

from __future__ import annotations

import json
import sys
import types
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from eventlog import (  # noqa: E402
    JOB_GROUP,
    assign_jobs,
    pass_metrics,
    read_event_log,
    self_times,
    union_length,
)
from spans import Tracer  # noqa: E402
from workloads import FAMILIES, PER_LAYER, WORKLOADS, check_coverage  # noqa: E402


def _span(sid, name, start, end, parent):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


# pass P: one gate whose build holds a mapper call (with a fit nested
# inside) overlapped by a widen call from another thread; then the
# output check, which is not part of the pass's work
SPANS = [
    _span("P", "pass", 100.0, 111.0, None),
    _span("G", "gate.g", 100.0, 110.0, "P"),
    _span("B", "build", 100.0, 104.0, "G"),
    _span("M", "core.map", 101.0, 103.0, "B"),
    _span("F", "functions.fit", 101.5, 102.5, "M"),
    _span("W", "core.widen", 102.0, 103.5, "B"),
    _span("E", "exec", 104.0, 110.0, "G"),
    _span("C", "check", 110.0, 111.0, "P"),
]


def _job(jid, submit, stages, group=None):
    props = {JOB_GROUP: group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": int(submit * 1000), "Stage IDs": stages,
         "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": int(submit * 1000) + 1},
    ]


def _task(stage, launch, finish, run_ms, cpu_ns=0, shuffle_write=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": int(launch * 1000),
                      "Finish Time": int(finish * 1000)},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": shuffle_write},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Input Metrics": {"Bytes Read": 1_000_000},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    *_job(0, 101.6, [0], group="F"),   # labelled: the fit
    *_job(1, 103.2, [1]),              # unlabelled: widen's window
    *_job(2, 105.0, [2], group="E"),   # labelled: the noop write
    *_job(3, 110.2, [3], group="C"),   # the output check
    *_job(4, 120.0, [4]),              # after every span
    _task(0, 101.6, 101.9, 300, cpu_ns=200_000_000),
    _task(1, 103.2, 103.6, 400),
    _task(2, 105.0, 107.0, 2000, shuffle_write=2_000_000),
    _task(2, 106.0, 108.0, 2000, shuffle_write=2_000_000),
    _task(3, 110.2, 110.8, 600),
    _task(4, 120.0, 121.0, 1000),
]


@pytest.fixture
def event_log(tmp_path):
    path = tmp_path / "events"
    path.write_text("".join(json.dumps(e) + "\n" for e in EVENTS))
    return read_event_log(str(path))


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], lo=1.5, hi=5.5) == 2
    assert union_length([]) == 0


def test_self_time_subtracts_the_union_of_children():
    st = self_times(SPANS)
    # build [100,104] minus map [101,103] and widen [102,103.5]
    assert st["B"] == pytest.approx(1.5)
    assert st["M"] == pytest.approx(1.0)
    assert st["F"] == pytest.approx(1.0)
    assert st["W"] == pytest.approx(1.5)
    assert st["G"] == pytest.approx(0.0)


def test_jobs_go_to_their_group_else_the_innermost_window(event_log):
    jobs, _ = event_log
    owner = assign_jobs(jobs, SPANS)
    assert owner == {0: "F", 1: "W", 2: "E", 3: "C"}


def test_pass_metrics(event_log):
    jobs, tasks = event_log
    m = pass_metrics("P", SPANS, jobs, tasks, cores=4)
    assert m["plans.build_s"] == pytest.approx(4.0)
    assert m["plans.exec_s"] == pytest.approx(6.0)
    assert m["plans.jobs_build"] == 2
    assert m["plans.jobs_exec"] == 1
    assert m["gate.g.build_s"] == pytest.approx(4.0)
    assert m["gate.g.jobs"] == 3
    assert m["core.map.calls"] == 1
    assert m["core.map.s"] == pytest.approx(1.0)
    assert m["core.map.jobs"] == 0
    assert m["functions.fit.jobs"] == 1
    assert m["core.widen.s"] == pytest.approx(1.5)
    assert m["core.widen.jobs"] == 1
    assert not any(k.startswith("check") for k in m)
    # the check's and the late job's tasks are not the pass's work
    assert m["exec.jobs"] == 3
    assert m["exec.stages"] == 3
    assert m["exec.tasks"] == 4
    assert m["exec.task_p50_ms"] == pytest.approx(1200)
    assert m["exec.task_run_s"] == pytest.approx(4.7)
    assert m["exec.task_cpu_s"] == pytest.approx(0.2)
    # tasks cover 0.3 + 0.4 + 3.0 s of the pass's 11 s
    assert m["exec.no_task_s"] == pytest.approx(11.0 - 3.7)
    assert m["exec.busy_share"] == pytest.approx(4.7 / (11.0 * 4))
    assert m["exec.shuffle_write_mb"] == pytest.approx(4.0)
    assert m["exec.input_mb"] == pytest.approx(4.0)


class _FakeSparkContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_tracer_labels_jobs_and_wraps_every_caller_reference():
    defs = types.ModuleType("smashed_spark.perfbench_fake_defs")
    user = types.ModuleType("smashed_spark.perfbench_fake_user")
    sc = _FakeSparkContext()
    seen = []

    def layer_fn():
        seen.append(sc.getLocalProperty(JOB_GROUP))
        return 7

    defs.layer_fn = layer_fn
    user.layer_fn = layer_fn  # as after `from defs import layer_fn`
    sys.modules[defs.__name__] = defs
    sys.modules[user.__name__] = user
    try:
        tracer = Tracer(sc, "t")
        tracer.wrap_layers([("core.fake", defs.__name__, "layer_fn")])
        with tracer.span("outer") as outer:
            assert user.layer_fn() == 7
            assert sc.getLocalProperty(JOB_GROUP) == outer
        tracer.unwrap()
        assert user.layer_fn is layer_fn and defs.layer_fn is layer_fn
    finally:
        del sys.modules[defs.__name__], sys.modules[user.__name__]
    inner = next(s for s in tracer.spans if s["name"] == "core.fake")
    assert seen == [inner["id"]]
    assert inner["parent"] == outer
    assert sc.getLocalProperty(JOB_GROUP) is None


def test_a_call_nested_in_its_own_layer_is_part_of_the_outer_call():
    defs = types.ModuleType("smashed_spark.perfbench_fake_fit")
    sc = _FakeSparkContext()

    def inner_fit():
        return 1

    def outer_fit():
        return defs.inner_fit() + 1

    defs.inner_fit, defs.outer_fit = inner_fit, outer_fit
    sys.modules[defs.__name__] = defs
    try:
        tracer = Tracer(sc, "t")
        tracer.wrap_layers([("functions.fit", defs.__name__, "outer_fit"),
                            ("functions.fit", defs.__name__, "inner_fit")])
        assert defs.outer_fit() == 2 and defs.inner_fit() == 1
        tracer.unwrap()
    finally:
        del sys.modules[defs.__name__]
    assert [s["name"] for s in tracer.spans] == ["functions.fit"] * 2
    assert all(s["parent"] is None for s in tracer.spans)


def test_coverage_guard():
    gates = [g for fam in FAMILIES.values() for g in fam]
    check_coverage(gates)
    with pytest.raises(RuntimeError, match="in no family"):
        check_coverage(gates + ["new_gate"])
    with pytest.raises(RuntimeError, match="not registered"):
        check_coverage(gates[1:])
    for _, (wl_gates, why) in WORKLOADS.items():
        assert set(wl_gates) <= set(gates) and why
    with pytest.raises(RuntimeError, match="in no family"):
        WORKLOADS["extra"] = (("new_gate",), "why")
        try:
            check_coverage(gates)
        finally:
            del WORKLOADS["extra"]


def test_benchmark_json_matches_the_metric_tables():
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        m[:3] for m in PER_LAYER
    ]
