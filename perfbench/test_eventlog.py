"""Unit tests of the event-log parser (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os

from perfbench import eventlog

HERE = os.path.dirname(os.path.abspath(__file__))


def _job(jid, group, submit, end, stages, scopes=None):
    infos = [
        {"Stage ID": s, "RDD Info": [{"Scope": json.dumps({"id": "1", "name": n})} for n in (scopes or {}).get(s, [])]}
        for s in stages
    ]
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
         "Stage Infos": infos, "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(stage, run_ms, cpu_ns, read=0, shuffle_write=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
            "Input Metrics": {"Bytes Read": read, "Records Read": read // 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7, "Fetch Wait Time": 2},
        },
    }


def _submitted(stage):
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage}}


def synthetic_log():
    ev = []
    # op "a", build phase: one job, one stage that scans.
    ev += _job(0, "w:a:build", 1000, 1100, [0])
    ev += [_submitted(0), _task(0, 50, 40_000_000, read=1000)]
    # op "a", exec phase: stage 1 skipped (reused map output), stage 2 runs
    # a Python node.
    ev += _job(1, "w:a:exec", 1200, 1500, [1, 2], scopes={2: ["ArrowEvalPython"]})
    ev += [_submitted(2), _task(2, 300, 100_000_000, shuffle_write=64), _task(2, 100, 100_000_000)]
    # op "b": a streaming micro-batch job under the stream's own group.
    ev += _job(2, "5f1c2d9e-run-id", 2100, 2300, [3])
    ev += [_submitted(3), _task(3, 20, 10_000_000)]
    # outside every window: ignored.
    ev += _job(3, "w:a:exec", 9000, 9100, [4])
    ev += [_submitted(4), _task(4, 999, 1)]
    ev.append({
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {
            "runId": "r1", "timestamp": "1970-01-01T00:00:02.150Z",
            "durationMs": {"triggerExecution": 400},
            "stateOperators": [{"numRowsTotal": 5, "memoryUsedBytes": 2048, "commitTimeMs": 30}],
            "sources": [{"numInputRows": 60}],
        },
    })
    windows = [
        eventlog.Window("a", 1000, 1150, 1600, True),
        eventlog.Window("b", 2000, 2500, 2600, True),
    ]
    return ev, windows


def test_synthetic_attribution():
    ev, windows = synthetic_log()
    m = eventlog.pass_metrics(eventlog.parse(ev), windows, "w")
    assert m["exec.jobs"] == 3
    assert m["plans.build_jobs"] == 2  # op a's build job + the streaming job
    assert m["exec.stages"] == 3
    assert m["exec.stages_skipped"] == 1
    assert m["exec.tasks"] == 4
    assert abs(m["exec.task_s"] - 0.47) < 1e-9
    assert abs(m["exec.cpu_s"] - 0.25) < 1e-9
    assert m["sources.read_bytes"] == 1000 and m["sources.read_rows"] == 100
    assert abs(m["sources.scan_task_s"] - 0.05) < 1e-9
    assert m["shuffle.write_bytes"] == 64 and m["shuffle.read_bytes"] == 28
    assert m["functions.python_stages"] == 1
    assert abs(m["functions.python_gap_s"] - 0.2) < 1e-9  # 0.4 s run - 0.2 s JVM CPU
    assert abs(m["collect.arrow_s"] - 0.1) < 1e-9  # last exec job end 1500 -> 1600
    assert m["streaming.batches"] == 1 and m["streaming.input_rows"] == 60
    assert m["streaming.state_rows"] == 5 and m["streaming.state_mem_bytes"] == 2048
    assert abs(m["streaming.commit_s"] - 0.03) < 1e-9
    assert abs(m["streaming.batch_s"] - 0.4) < 1e-9


def test_captured_log():
    """A real Spark 4 event log: q3 and arrow_map_doc_stats built and
    collected, then a streaming dedup, trimmed to the fields the parser
    reads. The expected counts come from independent sources recorded at
    capture time: the status tracker's stage counts for the two batch
    operations, and the events table's row count for the stream."""
    with open(os.path.join(HERE, "testdata", "windows.json")) as f:
        meta = json.load(f)
    log = eventlog.parse(eventlog.read_events(os.path.join(HERE, "testdata", "eventlog_small.jsonl")))
    windows = [eventlog.Window(*w) for w in meta["windows"]]
    batch = eventlog.pass_metrics(log, windows[:2], meta["workload"])
    for key, want in meta["batch_ops"].items():
        assert batch[key] == want, key
    assert batch["functions.python_stages"] >= 1  # mapInArrow runs Python workers
    assert batch["sources.read_rows"] > 0 and batch["shuffle.write_bytes"] > 0
    assert batch["streaming.batches"] == 0
    full = eventlog.pass_metrics(log, windows, meta["workload"])
    assert full["streaming.batches"] >= 1
    assert full["streaming.input_rows"] == meta["events_rows"]
    assert full["streaming.state_rows"] > 0
    assert full["exec.jobs"] > batch["exec.jobs"]  # the stream's own jobs
