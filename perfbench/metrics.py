"""Metric names and units: what ``run.py`` prints and ``BENCHMARK.json`` lists."""

from __future__ import annotations

#: Untraced run (``--trace 0``): medians over the timed passes.
END_TO_END = ("setup_s", "pass_s", "build_s", "exec_s")

#: Traced run (``--trace 1``): the traced child's median pass, plus the
#: untraced child's memory and the run's failure and leak counts.
LAYERS = (
    "session.start_s",
    "session.first_job_s",
    "plans.build_s",
    "plans.build_jobs",
    "sources.load_s",
    "sources.read_bytes",
    "sources.read_rows",
    "sources.scan_task_s",
    "sources.write_bytes",
    "sources.write_files",
    "sources.compact_s",
    "sources.zorder_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "shuffle.spill_bytes",
    "exec.jobs",
    "exec.stages",
    "exec.stages_skipped",
    "exec.tasks",
    "exec.task_s",
    "exec.cpu_s",
    "exec.gc_s",
    "functions.python_gap_s",
    "functions.python_stages",
    "collect.arrow_s",
    "operators.persisted_left",
    "operators.views_left",
    "operators.ckpt_dirs_left",
    "streaming.batches",
    "streaming.input_rows",
    "streaming.state_rows",
    "streaming.state_mem_bytes",
    "streaming.commit_s",
    "streaming.batch_s",
    "peak_rss_mb",
    "fail_frac",
    "leaks_per_pass",
    "trace.pass_s",
    "trace.overhead_frac",
)


def unit(name: str) -> str:
    for suffix, u in (("_s", "s"), ("bytes", "bytes"), ("_rows", "rows"), ("_frac", "ratio"), ("_mb", "MB")):
        if name.endswith(suffix):
            return u
    return "count"


def per_layer_names() -> list[str]:
    """LAYERS, then ``op.<name>.build_s`` / ``exec_s`` for the operations of
    every listed workload (an operation a workload does not run reads 0)."""
    from perfbench.workloads import WORKLOADS

    ops = dict.fromkeys(op.name for wl in WORKLOADS.values() if wl.listed for op in wl.ops)
    return [*LAYERS, *(f"op.{op}.{part}" for op in ops for part in ("build_s", "exec_s"))]
