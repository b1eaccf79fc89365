"""Fold a Spark event log into per-layer numbers for the timed passes.

The benchmark tags every job it causes with a job group of the form
``pb|<pass>|<op>|<phase>``, and sets the same tag as the local property
``pb.op``; untimed passes have ids <= 0.  A streaming query started by an
operation inherits ``pb.op``, while Spark gives its micro-batch jobs the
stream's run id as job group, so every job is folded on ``pb.op`` and a
stream's progress events are tied to the operation its jobs carry.  Only
jobs of timed passes (pass >= 1) are folded; sums are divided by the
number of timed passes, so every number reads "per pass".
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass

STREAM_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$"
# local property that carries the benchmark's tag into a stream's jobs
OP_PROPERTY = "pb.op"


@dataclass
class OpWindow:
    """Wall interval of one benchmark operation, in epoch milliseconds."""

    pass_id: int
    op: str
    start_ms: float
    end_ms: float


def group_tag(pass_id: int, op: str, phase: str) -> str:
    return f"pb|{pass_id}|{op}|{phase}"


def _parse_tag(group: str | None) -> tuple[int, str] | None:
    if not group or not group.startswith("pb|"):
        return None
    _, pass_id, op, _phase = group.split("|", 3)
    return int(pass_id), op


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def fold(path: str, windows: list[OpWindow], timed_passes: int) -> dict[str, float]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    per_job = defaultdict(lambda: defaultdict(float))
    progress: dict[str, list[dict]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "owner": _parse_tag(props.get(OP_PROPERTY)),
                             "start": ev["Submission Time"], "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    per_job[stage_job[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_job:
                    continue
                acc = per_job[stage_job[sid]]
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                acc["tasks"] += 1
                acc["run_ms"] += m.get("Executor Run Time", 0)
                acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                acc["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                acc["read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                acc["written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                if info.get("Launch Time") and stage_submit.get(sid):
                    acc["wait_ms"] += max(0, info["Launch Time"] - stage_submit[sid])
            elif kind == STREAM_EVENT + "QueryProgressEvent":
                progress[ev["progress"]["runId"]].append(ev["progress"])

    # a stream belongs to the operation whose tag its jobs inherited
    stream_owner = {job["group"]: job["owner"] for job in jobs.values()
                    if job["owner"] and job["group"] and _parse_tag(job["group"]) is None}

    timed_lo = min((w.start_ms for w in windows if w.pass_id >= 1), default=0.0)
    timed_hi = max((w.end_ms for w in windows if w.pass_id >= 1), default=0.0)
    totals = defaultdict(float)
    job_spans: dict[tuple[int, str], list[tuple[float, float]]] = defaultdict(list)
    for jid, job in jobs.items():
        owner = job["owner"]
        if owner is None:
            if timed_lo <= job["start"] <= timed_hi:
                totals["untagged_jobs"] += 1
            continue
        if owner[0] < 1:
            continue
        job_spans[owner].append((job["start"], job["end"] or job["start"]))
        for key, value in per_job[jid].items():
            totals[key] += value

    gap_ms = 0.0
    for w in windows:
        if w.pass_id >= 1:
            covered = _union_ms([
                (max(lo, w.start_ms), min(hi, w.end_ms))
                for lo, hi in job_spans[(w.pass_id, w.op)] if hi > w.start_ms
            ])
            gap_ms += max(0.0, (w.end_ms - w.start_ms) - covered)

    stream = defaultdict(float)
    for run_id, owner in stream_owner.items():
        if owner[0] < 1:
            continue
        batches = progress.get(run_id, [])
        stream["batches"] += len(batches)
        stream["input_rows"] += sum(
            src.get("numInputRows", 0) for p in batches for src in p.get("sources") or []
        )
        stream["trigger_ms"] += sum((p.get("durationMs") or {}).get("triggerExecution", 0) for p in batches)
        for p in batches:
            for op in p.get("stateOperators") or []:
                stream["commit_ms"] += op.get("commitTimeMs", 0)
        if batches:
            stream["state_rows"] += sum(
                op.get("numRowsTotal", 0) for op in batches[-1].get("stateOperators") or []
            )

    n = max(1, timed_passes)
    read, written = totals["read"] / n, totals["written"] / n
    return {
        "spark.stages": totals["stages"] / n,
        "spark.tasks": totals["tasks"] / n,
        "spark.executor_run_s": totals["run_ms"] / 1000 / n,
        "spark.executor_cpu_s": totals["cpu_ns"] / 1e9 / n,
        "spark.sched_wait_s": totals["wait_ms"] / 1000 / n,
        "spark.driver_gap_s": gap_ms / 1000 / n,
        "spark.shuffle_bytes": totals["shuffle"] / n,
        "spark.spill_bytes": totals["spill"] / n,
        "spark.gc_s": totals["gc_ms"] / 1000 / n,
        "spark.untagged_jobs": totals["untagged_jobs"] / n,
        "stream.batches": stream["batches"] / n,
        "stream.input_rows": stream["input_rows"] / n,
        "stream.trigger_s": stream["trigger_ms"] / 1000 / n,
        "stream.state_commit_s": stream["commit_ms"] / 1000 / n,
        "stream.state_rows": stream["state_rows"] / n,
        "io.bytes_read": read,
        "io.bytes_written": written,
        "io.write_amp": written / read if read else 0.0,
    }
