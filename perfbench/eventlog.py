"""Reader for the uncompressed Spark event log of one application.

Spark 4.1 writes a rolling log: a directory ``eventlog_v2_<app>`` with
parts ``events_<n>_<app>`` that are read in ``<n>`` order. Only job,
stage and task-end events are parsed; SQL plan events, the bulk of the
log, are skipped before JSON decoding.

Jobs carry the ``spark.jobGroup.id`` they were submitted under, or
``None``. Stages carry the group of the job that submitted them and the
summed metrics of their finished tasks. Jobs can overlap in time, so
time spent in jobs is a union of intervals (:func:`union_s`), never a
sum.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

_GROUP = "spark.jobGroup.id"
_WANTED = tuple(
    b'{"Event":"SparkListener%s"' % kind
    for kind in (b"JobStart", b"JobEnd", b"StageSubmitted", b"StageCompleted", b"TaskEnd")
)

# SQL metrics of the Python/Arrow operators, summed per stage from task updates
_PY_METRICS = {
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_recv_b",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


@dataclass
class Job:
    id: int
    group: str | None
    submit_s: float
    end_s: float | None = None


@dataclass
class Stage:
    id: int
    group: str | None
    submit_s: float | None = None
    attempts: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    output_b: int = 0
    py: dict[str, int] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)


def app_log_dir(log_root: Path) -> Path:
    """The one ``eventlog_v2_*`` directory under ``log_root``."""
    dirs = sorted(p for p in log_root.iterdir() if p.is_dir() and p.name.startswith("eventlog_v2_"))
    if len(dirs) != 1:
        raise ValueError(f"expected one eventlog_v2_* directory in {log_root}, found {len(dirs)}")
    return dirs[0]


def log_parts(app_dir: Path) -> list[Path]:
    """Parts of a rolling log in write order (``events_<n>_<app>`` by ``n``)."""
    parts = [p for p in app_dir.iterdir() if p.name.startswith("events_")]
    if not parts:
        raise ValueError(f"no events_* parts in {app_dir}")
    return sorted(parts, key=lambda p: int(p.name.split("_")[1]))


def _stage(log: EventLog, stage_id: int) -> Stage:
    stage = log.stages.get(stage_id)
    if stage is None:
        stage = log.stages[stage_id] = Stage(stage_id, None)
    return stage


def _apply(log: EventLog, ev: dict) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get(_GROUP)
        log.jobs[ev["Job ID"]] = Job(ev["Job ID"], group, ev["Submission Time"] / 1000.0)
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(ev["Job ID"])
        if job is not None:
            job.end_s = ev["Completion Time"] / 1000.0
    elif kind == "SparkListenerStageSubmitted":
        info = ev["Stage Info"]
        stage = _stage(log, info["Stage ID"])
        stage.group = (ev.get("Properties") or {}).get(_GROUP)
        if stage.submit_s is None and info.get("Submission Time") is not None:
            stage.submit_s = info["Submission Time"] / 1000.0
    elif kind == "SparkListenerStageCompleted":
        _stage(log, ev["Stage Info"]["Stage ID"]).attempts += 1
    elif kind == "SparkListenerTaskEnd":
        stage = _stage(log, ev["Stage ID"])
        stage.tasks += 1
        if ev["Task End Reason"]["Reason"] != "Success":
            stage.failed_tasks += 1
        m = ev.get("Task Metrics") or {}
        stage.run_ms += m.get("Executor Run Time", 0)
        stage.cpu_ns += m.get("Executor CPU Time", 0)
        stage.gc_ms += m.get("JVM GC Time", 0)
        stage.spill_b += m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        stage.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        stage.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out = m.get("Output Metrics") or {}
        stage.output_b += out.get("Bytes Written", 0)
        for acc in ev["Task Info"].get("Accumulables", ()):
            key = _PY_METRICS.get(acc.get("Name"))
            if key is not None and acc.get("Update") is not None:
                stage.py[key] = stage.py.get(key, 0) + int(acc["Update"])


def read_log(app_dir: Path) -> EventLog:
    log = EventLog()
    for part in log_parts(app_dir):
        with part.open("rb") as fh:
            for line in fh:
                if line.startswith(_WANTED):
                    _apply(log, json.loads(line))
    return log


def union_s(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    spans = []
    for start, end in intervals:
        if lo is not None:
            start = max(start, lo)
        if hi is not None:
            end = min(end, hi)
        if end > start:
            spans.append((start, end))
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
