"""Spark event-log reading and the arithmetic that turns spans plus
engine events into per-layer numbers.

Times are epoch seconds throughout; the event log's epoch milliseconds
are converted on read.  A span is a dict with ``id``, ``name``,
``start``, ``end`` and ``parent``; a job is a dict with ``id``,
``group``, ``submit`` and ``stages``; a task is a dict with
``stage``, ``launch``, ``finish`` and its metric fields.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

JOB_GROUP = "spark.jobGroup.id"
MB = 1e6


def read_event_log(path: str) -> tuple[list[dict], list[dict]]:
    """Return the (jobs, tasks) recorded in one uncompressed event log."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "group": (ev.get("Properties") or {}).get(JOB_GROUP),
                    "submit": ev["Submission Time"] / 1e3,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(ev))
    return list(jobs.values()), tasks


def _task(ev: dict) -> dict:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "stage": ev["Stage ID"],
        "launch": info["Launch Time"] / 1e3,
        "finish": info["Finish Time"] / 1e3,
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
    }


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap each other (spans opened on other threads), so
    the covered part is the union of the children's intervals.
    """
    children: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children[s["id"]], s["start"], s["end"])
        for s in spans
    }


def assign_jobs(jobs: list[dict], spans: list[dict]) -> dict[int, str]:
    """Map job id -> id of the innermost span that issued it.

    A job carrying a span's id as its job group belongs to that span.
    Other jobs (submitted from threads the benchmark did not label) go
    to the innermost span whose time window holds their submission;
    jobs outside every span are left out.
    """
    by_id = {s["id"]: s for s in spans}
    depth: dict[str, int] = {}

    def _depth(sid: str) -> int:
        if sid not in depth:
            parent = by_id[sid]["parent"]
            depth[sid] = 0 if parent not in by_id else _depth(parent) + 1
        return depth[sid]

    out: dict[int, str] = {}
    for job in jobs:
        if job["group"] in by_id:
            out[job["id"]] = job["group"]
            continue
        holders = [s for s in spans if s["start"] <= job["submit"] <= s["end"]]
        if holders:
            out[job["id"]] = max(holders, key=lambda s: _depth(s["id"]))["id"]
    return out


def subtree(spans: list[dict], root_id: str) -> list[dict]:
    """The span ``root_id`` and its descendants, leaving out the
    ``check`` spans (output checks are not part of a pass's work)."""
    kids: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(k for k in kids[s["id"]] if k["name"] != "check")
    return out


def pass_metrics(
    pass_id: str,
    spans: list[dict],
    jobs: list[dict],
    tasks: list[dict],
    cores: int,
) -> dict[str, float]:
    """Per-layer and engine numbers for one traced pass.

    The pass span's children are ``gate.<name>`` spans, each with
    ``build`` and ``exec`` children; every other span is a layer call
    named after its layer.
    """
    mine = subtree(spans, pass_id)
    root = next(s for s in mine if s["id"] == pass_id)
    wall = root["end"] - root["start"]
    owner = assign_jobs(jobs, spans)
    my_ids = {s["id"] for s in mine}
    jobs_of: dict[str, int] = defaultdict(int)
    for jid, sid in owner.items():
        if sid in my_ids:
            jobs_of[sid] += 1
    selft = self_times(mine)
    out: dict[str, float] = defaultdict(float)
    for gate in (s for s in mine if s["parent"] == pass_id):
        name = gate["name"]
        for phase in (s for s in mine if s["parent"] == gate["id"]):
            ids = {s["id"] for s in subtree(mine, phase["id"])}
            n_jobs = sum(jobs_of[i] for i in ids)
            dur = phase["end"] - phase["start"]
            out[f"plans.{phase['name']}_s"] += dur
            out[f"plans.jobs_{phase['name']}"] += n_jobs
            out[f"{name}.{phase['name']}_s"] += dur
            out[f"{name}.jobs"] += n_jobs
    for s in mine:
        if s["parent"] == pass_id or s["name"] in ("build", "exec") or s is root:
            continue
        out[f"{s['name']}.calls"] += 1
        out[f"{s['name']}.s"] += selft[s["id"]]
        out[f"{s['name']}.jobs"] += jobs_of[s["id"]]

    my_jobs = [j for j in jobs if owner.get(j["id"]) in my_ids]
    stages = {st for j in my_jobs for st in j["stages"]}
    my_tasks = [t for t in tasks if t["stage"] in stages]
    run_s = sum(t["run_s"] for t in my_tasks)
    out.update(
        {
            "exec.jobs": len(my_jobs),
            "exec.stages": len({t["stage"] for t in my_tasks}),
            "exec.tasks": len(my_tasks),
            "exec.task_p50_ms": (
                statistics.median((t["finish"] - t["launch"]) * 1e3 for t in my_tasks)
                if my_tasks
                else 0.0
            ),
            "exec.task_run_s": run_s,
            "exec.task_cpu_s": sum(t["cpu_s"] for t in my_tasks),
            "exec.busy_share": run_s / (wall * cores) if wall > 0 else 0.0,
            "exec.no_task_s": wall
            - union_length(
                ((t["launch"], t["finish"]) for t in my_tasks),
                root["start"],
                root["end"],
            ),
            "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in my_tasks) / MB,
            "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in my_tasks) / MB,
            "exec.spill_mb": sum(t["spill"] for t in my_tasks) / MB,
            "exec.input_mb": sum(t["input"] for t in my_tasks) / MB,
            "exec.output_mb": sum(t["output"] for t in my_tasks) / MB,
        }
    )
    return dict(out)
