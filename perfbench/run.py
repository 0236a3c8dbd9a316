#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of fresh query execution.

Usage, from the repository root:

    python3 perfbench/run.py --workload star_text --seed 1 --seconds 4 --trace 0

The launcher pins the environment, generates the seeded inputs and the
DuckDB reference answers (cached under ``.bench_work/``, outside any timed
region), then starts one child process (``perfbench/child.py``) that holds
the Spark session and runs the passes in a closed loop: one operation at a
time, each waiting for the previous one. With ``--trace 1`` it first runs an
untraced child, then a traced one with the Spark event log on, and reports
the per-layer metrics of the traced run plus its overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170.0


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pinned_env(tmp: str) -> dict[str, str]:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["PYTHONPATH"] = ROOT
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    return env


def run_child(cfg: dict, env: dict[str, str], deadline: float) -> dict:
    """Run one benchmark child in its own process group; kill the whole group
    (JVM and Python workers included) once the child has written its result
    or has ended or outlived the deadline, and wait for every process of it
    to end. The child stops its session before it writes the result; the
    kill only spares the seconds of interpreter and JVM shutdown."""
    if os.path.exists(cfg["result"]):
        os.remove(cfg["result"])
    env = dict(env, PERFBENCH_SPAWNED=repr(time.time()))
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.child", json.dumps(cfg)],
        cwd=ROOT,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        while proc.poll() is None and not os.path.exists(cfg["result"]) and time.time() < deadline:
            time.sleep(0.1)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _wait_group_gone(proc.pid)
    if not os.path.exists(cfg["result"]):
        _fail(f"benchmark child ended with code {proc.returncode} and no result")
    with open(cfg["result"]) as f:
        return json.load(f)


def host_calibration_ms() -> float:
    """Median time of a fixed pure-Python loop, a yardstick of the host's
    speed at the moment (the box may be shared), printed beside each run."""

    def loop() -> float:
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        return (time.perf_counter() - t) * 1e3

    return statistics.median(loop() for _ in range(5))


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: host contention the benchmark cannot cause."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def _in_group(pid: int, pgid: int) -> bool:
    try:
        return os.getpgid(pid) == pgid
    except OSError:
        return False


def _wait_group_gone(pgid: int, timeout: float = 20.0) -> None:
    """Wait until no process of group ``pgid`` is left."""
    end = time.time() + timeout
    while time.time() < end and any(_in_group(int(d), pgid) for d in os.listdir("/proc") if d.isdigit()):
        time.sleep(0.1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixtures", help="directory holding the workload's fixture directory (default: perfbench/fixtures)")
    args = ap.parse_args()
    # a terminated launcher still kills and reaps its child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + DEADLINE_S

    if not os.path.isdir(os.path.join(ROOT, "cbde_mapreduce_spark")):
        _fail(f"no cbde_mapreduce_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.metrics import END_TO_END, LAYERS, per_layer_names, unit
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = pinned_env(tmp)

    src = os.path.join(os.path.abspath(args.fixtures or inputs.FIXTURES), wl.fixture)
    if not os.path.isdir(src):
        _fail(f"no fixture directory {src}")
    data = inputs.make_inputs(WORK, src, wl.replicas, args.seed)
    oracles = {op.name: op.oracle() for op in wl.ops if op.oracle()}
    answers = inputs.reference_answers(WORK, data, src, wl.replicas, args.seed, oracles)
    answers_path = os.path.join(WORK, "tmp", "answers.pkl")
    with open(answers_path, "wb") as f:
        pickle.dump(answers, f)

    run_id = f"{args.workload}_{args.seed}_{os.getpid()}"
    cfg = {
        "workload": args.workload,
        "data": data,
        "work": WORK,
        "seconds": args.seconds,
        "trace": 0,
        "answers": answers_path,
        "result": os.path.join(WORK, "tmp", "result.json"),
        "run_id": run_id,
    }
    print("perfbench env " + json.dumps({k: env[k] for k in ("SPARK_GRAFT_CPUS", "PYTHONPATH", "TMPDIR", "SPARK_LOCAL_DIRS")}))
    calib = [host_calibration_ms()]
    ticks = cpu_ticks()
    plain = run_child(cfg, env, deadline)
    steal = steal_share(ticks, cpu_ticks())
    calib.append(host_calibration_ms())
    runs = [plain]
    if args.trace:
        traced = run_child(dict(cfg, trace=1), env, deadline)
        runs.append(traced)
        shutil.rmtree(os.path.join(WORK, "eventlog", run_id), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for r in runs:
        for e in r["errors"]:
            print(f"perfbench error: {e}", file=sys.stderr)
    host = {"calib_ms_before": round(calib[0], 2), "calib_ms_after": round(calib[1], 2), "steal_share": round(steal, 4)}
    print("perfbench host " + json.dumps(host))
    print(
        "perfbench run "
        + json.dumps({k: plain[k] for k in ("passes", "import_s", "start_s", "first_job_s", "leaks_per_pass", "stages", "ops")})
    )
    if args.trace:
        values = {
            **traced["layers"],
            "session.start_s": traced["start_s"],
            "session.first_job_s": traced["first_job_s"],
            "peak_rss_mb": plain["peak_rss_mb"],
            "fail_frac": failed / attempted,
            "leaks_per_pass": plain["leaks_per_pass"],
            "trace.overhead_frac": traced["pass_s"] / plain["pass_s"] - 1.0,
        }
        # a notes-only workload reports its own operations instead of the listed ones
        names = per_layer_names() if wl.listed else [*LAYERS, *(k for k in values if k.startswith("op."))]
        assert set(values) <= set(names), sorted(set(values) - set(names))
        metrics = {n: values.get(n, 0.0) for n in names}
    else:
        metrics = {n: plain[n] for n in END_TO_END}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
