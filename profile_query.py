#!/usr/bin/env python
"""Empirical per-stage profiler for one query (guide section 1.1): runs the
named query once warm, once profiled, then prints every job/stage with
executor run time, shuffle read/write bytes and task counts — so
optimization targets the stage where time actually goes, not the plan's
look. Jobs come from the status tracker by job group and stage metrics
from Spark's AppStatusStore, both of which work with the UI disabled (the
default session sets ``spark.ui.enabled=false``).

Usage: python profile_query.py <query> [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

from mini_lakehouse_control_plane_executor_spark import queries as qlib
from mini_lakehouse_control_plane_executor_spark.session import get_spark


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_query")
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    registry = qlib.all_queries()
    for name in names:
        # Two warmup passes (codegen compile AND JIT steady state — the
        # first post-compile run can still read several times slower than
        # the bench min-of-3), then the profiled pass.
        for _ in range(2):
            registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        group = f"profile:{name}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        spark.catalog.clearCache()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = sorted(
            {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
        )
        print(f"== {name}: wall {wall:.3f}s, {len(job_ids)} jobs, {len(stage_ids)} stages")
        rows = []
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never attempted, or evicted from the store
                continue
            if str(st.status()) != "SKIPPED":
                rows.append(st)
        rows.sort(key=lambda st: -st.executorRunTime())
        for st in rows:
            desc = st.description()
            print(
                "  stage {:>4} {:>8} tasks={:<4} run={:>7.2f}s cpu={:>7.2f}s "
                "gc={:>5.2f}s in={:>9} sr={:>9} sw={:>9}  {}".format(
                    st.stageId(),
                    str(st.status()),
                    st.numCompleteTasks(),
                    st.executorRunTime() / 1e3,
                    st.executorCpuTime() / 1e9,
                    st.jvmGcTime() / 1e3,
                    st.inputBytes(),
                    st.shuffleReadBytes(),
                    st.shuffleWriteBytes(),
                    (desc.get() if desc.isDefined() else st.name())[:60],
                )
            )

if __name__ == "__main__":
    main()
