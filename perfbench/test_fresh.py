"""Fresh execution versus re-execution of one DataFrame (starts Spark).

Re-executing a DataFrame that already ran reuses its shuffle output: Spark
skips the map stages and runs only the final one. Rebuilding the query
through the registry plans new shuffles, so every execution runs the same
stages. The benchmark's timed passes rebuild; this test pins why.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os

from perfbench import inputs


def _stages_run(sc, group: str) -> int:
    st = sc.statusTracker()
    ran = 0
    for j in st.getJobIdsForGroup(group):
        for sid in st.getJobInfo(j).stageIds:
            si = st.getStageInfo(sid)
            if si is not None and not (si.numTasks > 0 and si.numCompletedTasks == 0):
                ran += 1
    return ran


def test_rerun_skips_stages_rebuild_does_not(tmp_path):
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from cbde_mapreduce_spark.plans import REGISTRY
    from cbde_mapreduce_spark.session import get_spark

    data = inputs.make_inputs(str(tmp_path), os.path.join(inputs.FIXTURES, "sf0.01"), 2, 0)
    spark = get_spark()
    sc = spark.sparkContext
    build = REGISTRY["q3_shipping_priority"].fn
    df = build(spark, data)
    runs = {}
    for label in ("first", "rerun", "rebuild"):
        handle = build(spark, data) if label == "rebuild" else df
        sc.setJobGroup(f"fresh:{label}", label)
        runs[label] = (handle.toPandas(), _stages_run(sc, f"fresh:{label}"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    first, rerun, rebuild = runs["first"], runs["rerun"], runs["rebuild"]
    assert first[0].equals(rerun[0]) and first[0].equals(rebuild[0])
    assert first[1] > 1  # q3 has shuffle joins
    assert rerun[1] < first[1]  # map stages skipped on re-execution
    assert rebuild[1] == first[1]  # a rebuilt query runs every stage again
