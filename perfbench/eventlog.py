"""Stdlib reader for an uncompressed, non-rolling Spark event log, and
the per-span and runtime totals the traced run reports.

The log is one JSON object per line. Four event types are read: job
start and end (submission and completion times, the job description),
stage submitted (task count, submission time, the description the stage
inherited from its job) and task end (launch time, run, CPU and GC
time, input, shuffle and spill bytes, failure).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

from spans import Span, descendants, self_times, span_id

_MS = 1e-3
#: Spark writes the "Event" key first; lines of other events (SQL plans
#: are most of the log's bytes) are skipped without decoding
_READ = tuple(
    f'{{"Event":"SparkListener{kind}"'
    for kind in ("JobStart", "JobEnd", "StageSubmitted", "TaskEnd")
)


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    description: str | None = None


@dataclass
class Stage:
    id: int
    n_tasks: int
    submit: float
    description: str | None = None


@dataclass
class Task:
    stage: int
    launch: float
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    input_rows: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    failed: bool


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def _description(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.job.description")


def parse(path: Path) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.startswith(_READ):
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] * _MS, description=_description(ev)
                )
            elif kind == "SparkListenerJobEnd":
                log.jobs[ev["Job ID"]].end = ev["Completion Time"] * _MS
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                log.stages[info["Stage ID"]] = Stage(
                    info["Stage ID"],
                    info["Number of Tasks"],
                    info.get("Submission Time", 0) * _MS,
                    description=_description(ev),
                )
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                shuffle_read = m.get("Shuffle Read Metrics", {})
                log.tasks.append(
                    Task(
                        stage=ev["Stage ID"],
                        launch=info["Launch Time"] * _MS,
                        run_s=m.get("Executor Run Time", 0) * _MS,
                        cpu_s=m.get("Executor CPU Time", 0) * 1e-9,
                        gc_s=m.get("JVM GC Time", 0) * _MS,
                        input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                        input_rows=m.get("Input Metrics", {}).get("Records Read", 0),
                        shuffle_read_bytes=shuffle_read.get("Remote Bytes Read", 0)
                        + shuffle_read.get("Local Bytes Read", 0),
                        shuffle_write_bytes=m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        spill_bytes=m.get("Disk Bytes Spilled", 0),
                        failed=info.get("Failed", False)
                        or ev.get("Task End Reason", {}).get("Reason", "Success") != "Success",
                    )
                )
    return log


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def call_totals(log: EventLog, spans: list[Span], root: Span) -> dict[str, float]:
    """Per-layer and runtime totals of one traced call under ``root``.

    A job belongs to the span its description names; a job with no span
    of this call, submitted while the call ran, counts as unattributed,
    as does a job of the root span itself. Stages and tasks follow the
    description their job gave them."""
    tree = {s.id: s for s in descendants(spans, root)}
    selfs = self_times(spans, root)
    out: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        out[key] = out.get(key, 0.0) + value

    for s in tree.values():
        add(f"{s.layer}.s", s.end - s.start)
        add(f"{s.layer}.self_s", selfs[s.id])

    def layer_of(description: str | None) -> str | None:
        sid = span_id(description)
        if sid in tree and sid != root.id:
            return tree[sid].layer
        return None

    def in_call(description: str | None, when: float) -> bool:
        sid = span_id(description)
        return sid in tree if sid is not None else root.start <= when <= root.end

    jobs = [j for j in log.jobs.values() if in_call(j.description, j.submit)]
    stages = {s.id: s for s in log.stages.values() if in_call(s.description, s.submit)}
    tasks = [t for t in log.tasks if t.stage in stages]
    unattributed = 0
    for job in jobs:
        layer = layer_of(job.description)
        if layer is None:
            unattributed += 1
        else:
            add(f"{layer}.jobs", 1)
    for t in tasks:
        stage = stages[t.stage]
        layer = layer_of(stage.description)
        for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            add(f"spark.{key}", getattr(t, key))
            if layer is not None:
                add(f"{layer}.{key}", getattr(t, key))
        if layer is not None:
            add(f"{layer}.tasks", 1)
        add("spark.executor_run_s", t.run_s)
        add("spark.executor_cpu_s", t.cpu_s)
        add("spark.gc_s", t.gc_s)
        add("spark.scheduler_delay_s", max(0.0, t.launch - stage.submit))
        add("spark.failed_tasks", int(t.failed))
        add("sources.input_bytes", t.input_bytes)
        add("sources.input_rows", t.input_rows)

    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = len(stages)
    out["spark.tasks"] = len(tasks)
    out["spark.single_task_stage_share"] = (
        sum(s.n_tasks == 1 for s in stages.values()) / len(stages) if stages else 0.0
    )
    out["spark.unattributed_job_share"] = unattributed / len(jobs) if jobs else 0.0
    busy = covered([(j.submit, j.end) for j in jobs], root.start, root.end)
    out["driver.idle_s"] = (root.end - root.start) - busy
    out["trace.self_s_sum"] = sum(selfs.values())
    return out
