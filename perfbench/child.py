"""Benchmark child process: one session, a warm-up pass, then timed passes.

Started by ``perfbench/run.py`` with the pinned environment; reads its
settings as one JSON argument and writes its result as JSON to
``settings["result"]``. Every operation of every pass calls the public
builder, executes, collects and is verified; what it leaves behind is
counted and then released, so no pass reuses state from an earlier one.
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import shutil
import statistics
import sys
import threading
import time

_SPAWNED = float(os.environ.get("PERFBENCH_SPAWNED", time.time()))

#: Timed passes per run, at least. The JVM keeps getting faster for many
#: passes after the warm-up, so the median of a varying number of passes
#: would drift with the count; a fixed minimum keeps runs comparable, and
#: three make the median robust to one disturbed pass.
MIN_PASSES = 3


class PeakRss(threading.Thread):
    """Samples the resident memory of this process tree (this Python process,
    the JVM, Python workers) from /proc while ``active`` is set; ``peak`` is the
    highest sample since it was last reset."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.active = threading.Event()
        self.done = threading.Event()
        self.peak = 0
        self.page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self.done.is_set():
            if self.active.wait(0.5):
                self.peak = max(self.peak, self._tree_rss())
                time.sleep(self.interval)


class Runner:
    def __init__(self, spark, cfg: dict, wl, answers: dict) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.cfg = cfg
        self.wl = wl
        self.answers = answers
        self.tmp = os.environ["TMPDIR"]
        self.seen_jobs: set[int] = set()
        self.load_s = [0.0]
        self.first_stages: dict[str, tuple[int, int]] = {}

    # -- state the operations leave behind ---------------------------------
    def _state(self) -> tuple[int, set[str], set[str]]:
        persisted = self.sc._jsc.getPersistentRDDs().size()
        views = {r.viewName for r in self.spark.sql("SHOW VIEWS").collect() if r.isTemporary}
        ckpts = set(glob.glob(os.path.join(self.tmp, "ckpt_*")))
        return persisted, views, ckpts

    def _release(self, views: set[str], ckpts: set[str]) -> None:
        from cbde_mapreduce_spark.sources.tables import _TABLE_MEMO

        for q in self.spark.streams.active:
            q.stop()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        self.spark.catalog.clearCache()
        for v in views:
            self.spark.catalog.dropTempView(v)
        for d in ckpts:
            shutil.rmtree(d, ignore_errors=True)
        _TABLE_MEMO.pop(self.spark, None)

    def _stages(self, op: str) -> tuple[int, int]:
        """(stages run, stages skipped) by the jobs of ``op`` not seen yet."""
        st = self.sc.statusTracker()
        ran = skipped = 0
        for phase in ("build", "exec"):
            for j in st.getJobIdsForGroup(f"{self.cfg['workload']}:{op}:{phase}"):
                if j in self.seen_jobs:
                    continue
                self.seen_jobs.add(j)
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    if si is None or (si.numTasks > 0 and si.numCompletedTasks == 0):
                        skipped += 1
                    else:
                        ran += 1
        return ran, skipped

    # -- one operation, one pass -------------------------------------------
    def run_op(self, op, rec: dict) -> None:
        work, data = self.cfg["work"], self.cfg["data"]
        out = os.path.join(work, "out", op.name)
        shutil.rmtree(out, ignore_errors=True)
        p0, v0, c0 = self._state()
        load0 = self.load_s[0]
        group = f"{self.cfg['workload']}:{op.name}"
        err = None
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            self.sc.setJobGroup(f"{group}:build", op.name)
            handle = op.build(self.spark, data, out)
            t1 = time.perf_counter()
            w1 = time.time()
            self.sc.setJobGroup(f"{group}:exec", op.name)
            result = op.execute(handle, out)
            t2 = time.perf_counter()
            w2 = time.time()
        except Exception as ex:  # an operation failure is a measured outcome
            err = f"{type(ex).__name__}: {str(ex).splitlines()[0][:300] if str(ex) else ''}"
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec["attempted"] += 1
        files = 0
        if err is None:
            try:
                err = op.check(result, data, out, self.answers)
            except Exception as ex:
                err = f"check {type(ex).__name__}: {ex}"
            if not op.query:
                files = len(glob.glob(os.path.join(out, "*.parquet")))
        stages = self._stages(op.name)
        first = self.first_stages.setdefault(op.name, stages)
        if err is None and stages != first:
            err = f"stage counts {stages} differ from the first pass {first}"
        p1, v1, c1 = self._state()
        new_views, new_ckpts = v1 - v0, c1 - c0
        rec["persisted_left"] += max(0, p1 - p0)
        rec["views_left"] += len(new_views)
        rec["ckpt_dirs_left"] += len(new_ckpts)
        self._release(new_views, new_ckpts)
        shutil.rmtree(out, ignore_errors=True)
        if err is not None:
            rec["failed"] += 1
            rec["errors"].append(f"{op.name}: {err}")
            print(f"perfbench: {op.name} failed: {err}", file=sys.stderr, flush=True)
            return
        rec["ops"][op.name] = {"build_s": t1 - t0, "exec_s": t2 - t1}
        rec["windows"].append([op.name, w0 * 1e3, w1 * 1e3, w2 * 1e3, op.query])
        rec["load_s"] += self.load_s[0] - load0
        rec["write_files"] += files
        if not op.query:
            rec[f"{op.kind}_s"] += t2 - t1  # compact_s or zorder_s

    def run_pass(self) -> dict:
        rec = {
            "ops": {}, "windows": [], "errors": [], "attempted": 0, "failed": 0,
            "persisted_left": 0, "views_left": 0, "ckpt_dirs_left": 0,
            "load_s": 0.0, "write_files": 0, "compact_s": 0.0, "zorder_s": 0.0,
        }
        for op in self.wl.ops:
            self.run_op(op, rec)
        rec["build_s"] = sum(o["build_s"] for o in rec["ops"].values())
        rec["exec_s"] = sum(o["exec_s"] for o in rec["ops"].values())
        rec["pass_s"] = rec["build_s"] + rec["exec_s"]
        rec["leaks"] = rec["persisted_left"] + rec["views_left"] + rec["ckpt_dirs_left"]
        return rec


def _progress(msg: str) -> None:
    print(f"perfbench {time.time() - _SPAWNED:7.1f}s {msg}", file=sys.stderr, flush=True)


def _time_load_table(acc: list[float]) -> None:
    """Count time spent in ``sources.load_table``, wherever it was imported."""
    from cbde_mapreduce_spark.sources import tables

    orig = tables.load_table

    def timed(*args, **kwargs):
        t = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            acc[0] += time.perf_counter() - t

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("cbde_mapreduce_spark") and getattr(mod, "load_table", None) is orig:
            mod.load_table = timed


def main() -> None:
    cfg = json.loads(sys.argv[1])
    trace = bool(cfg["trace"])
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[cfg["workload"]]
    t_import = time.perf_counter()
    import cbde_mapreduce_spark.plans  # noqa: F401  (populates the registry)
    from cbde_mapreduce_spark.session import get_spark

    extra = None
    if trace:
        log_dir = os.path.join(cfg["work"], "eventlog", cfg["run_id"])
        os.makedirs(log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    t_session = time.perf_counter()
    spark = get_spark(extra_conf=extra)
    t_job = time.perf_counter()
    spark.range(1).count()
    t_ready = time.perf_counter()
    setup_s = time.time() - _SPAWNED
    spark.sparkContext.setLogLevel("ERROR")

    with open(cfg["answers"], "rb") as f:
        answers = pickle.load(f)
    runner = Runner(spark, cfg, wl, answers)
    if trace:
        _time_load_table(runner.load_s)
    rss = PeakRss()
    rss.start()

    _progress(f"session ready after {setup_s:.1f} s")
    passes = [runner.run_pass()]  # warm-up: JIT, worker start; verified, not timed
    _progress(f"warm-up pass {passes[0]['pass_s']:.2f} s: " + json.dumps({k: round(v["build_s"] + v["exec_s"], 2) for k, v in passes[0]["ops"].items()}))
    while len(passes) <= MIN_PASSES or sum(p["pass_s"] for p in passes[1:]) < cfg["seconds"]:
        rss.peak = 0
        rss.active.set()
        w = time.perf_counter()
        rec = runner.run_pass()
        rec["overhead_s"] = time.perf_counter() - w - rec["pass_s"]
        rss.active.clear()
        rec["peak_rss_mb"] = rss.peak / 2**20
        passes.append(rec)
        _progress(f"pass {len(passes) - 1}: {rec['pass_s']:.2f} s, peak rss {rec['peak_rss_mb']:.0f} MB, overhead {rec['overhead_s']:.2f} s")
    rss.done.set()
    spark.stop()
    _progress("session stopped")

    timed = passes[1:]
    result = {
        "attempted": sum(p["attempted"] for p in passes),
        "failed": sum(p["failed"] for p in passes),
        "errors": [e for p in passes for e in p["errors"]][:20],
        "passes": len(timed),
        "setup_s": setup_s,
        "import_s": t_session - t_import,
        "start_s": t_job - t_session,
        "first_job_s": t_ready - t_job,
        "pass_s": statistics.median(p["pass_s"] for p in timed),
        "build_s": statistics.median(p["build_s"] for p in timed),
        "exec_s": statistics.median(p["exec_s"] for p in timed),
        "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in timed),
        "leaks_per_pass": statistics.median(p["leaks"] for p in timed),
        "stages": {k: list(v) for k, v in runner.first_stages.items()},
        "ops": {
            op.name: [round(statistics.median(p["ops"][op.name][k] for p in timed if op.name in p["ops"]), 3) for k in ("build_s", "exec_s")]
            for op in wl.ops
            if any(op.name in p["ops"] for p in timed)
        },
    }
    if trace:
        result["layers"] = _layers(cfg, wl, timed, log_dir)
    with open(cfg["result"] + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(cfg["result"] + ".tmp", cfg["result"])  # the launcher acts on its appearance


def _layers(cfg: dict, wl, timed: list[dict], log_dir: str) -> dict[str, float]:
    """Per-layer metrics of the traced run's median pass."""
    from perfbench import eventlog

    (app,) = os.listdir(log_dir)  # one application per traced child
    log = eventlog.parse(eventlog.read_events(os.path.join(log_dir, app)))
    ordered = sorted(timed, key=lambda p: p["pass_s"])
    rec = ordered[(len(ordered) - 1) // 2]
    windows = [eventlog.Window(op, s, e, z, q) for op, s, e, z, q in rec["windows"]]
    m = eventlog.pass_metrics(log, windows, cfg["workload"])
    m.update(
        {
            "plans.build_s": rec["build_s"],
            "sources.load_s": rec["load_s"],
            "sources.write_files": rec["write_files"],
            "sources.compact_s": rec["compact_s"],
            "sources.zorder_s": rec["zorder_s"],
            "operators.persisted_left": rec["persisted_left"],
            "operators.views_left": rec["views_left"],
            "operators.ckpt_dirs_left": rec["ckpt_dirs_left"],
            "trace.pass_s": rec["pass_s"],
        }
    )
    for op in wl.ops:
        o = rec["ops"].get(op.name, {"build_s": 0.0, "exec_s": 0.0})
        m[f"op.{op.name}.build_s"] = o["build_s"]
        m[f"op.{op.name}.exec_s"] = o["exec_s"]
    return m


if __name__ == "__main__":
    main()
