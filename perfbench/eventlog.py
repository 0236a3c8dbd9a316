"""Spark event-log parser: per-pass layer metrics from the traced run.

Every job the benchmark launches carries the job group
``<workload>:<op>:<phase>`` (phase ``build`` or ``exec``). A job is
attributed to the operation window it was submitted in; jobs without one of
our groups (streaming micro-batches run under the stream's own group) fall
back to the window alone. Stage task metrics are summed over the attributed
jobs' stages. Streaming progress comes from the listener events Spark writes
into the same log.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
from dataclasses import dataclass, field

#: RDD scope names of the physical nodes that run Python or Arrow workers.
PYTHON_SCOPE = re.compile(r"Python|Pandas|InArrow|Arrow(Eval|Window)|UDTF")

#: Task-metric sums kept per stage: key -> path in the task metrics.
_TASK_SUMS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "read_bytes": ("Input Metrics", "Bytes Read"),
    "read_rows": ("Input Metrics", "Records Read"),
    "write_bytes": ("Output Metrics", "Bytes Written"),
    "shuffle_write": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_remote": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_local": ("Shuffle Read Metrics", "Local Bytes Read"),
    "fetch_wait_ms": ("Shuffle Read Metrics", "Fetch Wait Time"),
    "spill_bytes": ("Disk Bytes Spilled",),
}


@dataclass
class Stage:
    python: bool = False
    submitted: bool = False
    tasks: int = 0
    scan_run_ms: int = 0
    sums: dict[str, int] = field(default_factory=lambda: dict.fromkeys(_TASK_SUMS, 0))


@dataclass
class Job:
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Window:
    """One operation of one pass, in wall-clock ms (same clock as the JVM)."""

    op: str
    start_ms: float
    exec_ms: float
    end_ms: float
    query: bool = True


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)


def read_events(path: str) -> list[dict]:
    """Events of one application: ``path`` is a log file or a (rolling)
    event-log directory."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _dig(d: dict, path: tuple[str, ...]) -> int:
    for k in path:
        d = d.get(k, {}) if isinstance(d, dict) else {}
    return int(d) if isinstance(d, (int, float)) else 0


def _iso_ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def parse(events: list[dict]) -> Log:
    log = Log()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(
                group=props.get("spark.jobGroup.id"),
                submit_ms=e["Submission Time"],
                stage_ids=list(e.get("Stage IDs", [])),
            )
            for info in e.get("Stage Infos", []):
                st = log.stages.setdefault(info["Stage ID"], Stage())
                scopes = [json.loads(r.get("Scope") or "{}").get("name", "") for r in info.get("RDD Info", [])]
                st.python = st.python or any(PYTHON_SCOPE.search(s) for s in scopes)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in log.jobs:
                log.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            log.stages.setdefault(e["Stage Info"]["Stage ID"], Stage()).submitted = True
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(e["Stage ID"], Stage())
            m = e.get("Task Metrics") or {}
            st.tasks += 1
            for key, path in _TASK_SUMS.items():
                st.sums[key] += _dig(m, path)
            if _dig(m, ("Input Metrics", "Bytes Read")) > 0:
                st.scan_run_ms += _dig(m, ("Executor Run Time",))
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            log.progress.append(e["progress"])
    return log


def _owner(job: Job, windows: list[Window], workload: str) -> tuple[Window, str] | None:
    """(window, phase) a job belongs to, or None when it is outside every
    operation of the timed passes (set-up, warm-up, verification)."""
    for w in windows:
        if not (w.start_ms - 1 <= job.submit_ms <= w.end_ms + 1):
            continue
        prefix = f"{workload}:{w.op}:"
        if job.group and job.group.startswith(prefix):
            return w, job.group[len(prefix):]
        if job.group is None or ":" not in job.group:
            # not one of ours: a streaming micro-batch of this operation
            return w, "build" if job.submit_ms < w.exec_ms else "exec"
    return None


def pass_metrics(log: Log, windows: list[Window], workload: str) -> dict[str, float]:
    """Layer metrics of one pass, given the pass's operation windows."""
    out = dict.fromkeys(
        [
            "plans.build_jobs", "exec.jobs", "exec.stages", "exec.stages_skipped",
            "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s",
            "sources.read_bytes", "sources.read_rows", "sources.scan_task_s",
            "sources.write_bytes", "shuffle.write_bytes", "shuffle.read_bytes",
            "shuffle.fetch_wait_s", "shuffle.spill_bytes", "functions.python_gap_s",
            "functions.python_stages", "collect.arrow_s", "streaming.batches",
            "streaming.input_rows", "streaming.state_rows", "streaming.state_mem_bytes",
            "streaming.commit_s", "streaming.batch_s",
        ],
        0.0,
    )
    last_exec_end: dict[str, int] = {}
    for job in log.jobs.values():
        owner = _owner(job, windows, workload)
        if owner is None:
            continue
        w, phase = owner
        out["exec.jobs"] += 1
        if phase == "build":
            out["plans.build_jobs"] += 1
        elif job.end_ms:
            last_exec_end[w.op] = max(last_exec_end.get(w.op, 0), job.end_ms)
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if st is None or not st.submitted:
                out["exec.stages_skipped"] += 1
                continue
            s = st.sums
            out["exec.stages"] += 1
            out["exec.tasks"] += st.tasks
            out["exec.task_s"] += s["run_ms"] / 1e3
            out["exec.cpu_s"] += s["cpu_ns"] / 1e9
            out["exec.gc_s"] += s["gc_ms"] / 1e3
            out["sources.read_bytes"] += s["read_bytes"]
            out["sources.read_rows"] += s["read_rows"]
            out["sources.scan_task_s"] += st.scan_run_ms / 1e3
            out["sources.write_bytes"] += s["write_bytes"]
            out["shuffle.write_bytes"] += s["shuffle_write"]
            out["shuffle.read_bytes"] += s["shuffle_remote"] + s["shuffle_local"]
            out["shuffle.fetch_wait_s"] += s["fetch_wait_ms"] / 1e3
            out["shuffle.spill_bytes"] += s["spill_bytes"]
            if st.python:
                out["functions.python_stages"] += 1
                out["functions.python_gap_s"] += max(0.0, s["run_ms"] / 1e3 - s["cpu_ns"] / 1e9)
    for w in windows:
        if w.query and w.op in last_exec_end:
            out["collect.arrow_s"] += max(0.0, (w.end_ms - last_exec_end[w.op]) / 1e3)
    last_state: dict[str, dict] = {}
    for p in log.progress:
        t = _iso_ms(p["timestamp"])
        if not any(w.start_ms <= t <= w.end_ms for w in windows):
            continue
        out["streaming.batches"] += 1
        out["streaming.input_rows"] += p.get("numInputRows", sum(s.get("numInputRows", 0) for s in p.get("sources", [])))
        out["streaming.batch_s"] += p.get("durationMs", {}).get("triggerExecution", 0) / 1e3
        out["streaming.commit_s"] += sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators", [])) / 1e3
        last_state[p["runId"]] = p
    for p in last_state.values():
        ops = p.get("stateOperators", [])
        out["streaming.state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
        out["streaming.state_mem_bytes"] += sum(o.get("memoryUsedBytes", 0) for o in ops)
    return out
