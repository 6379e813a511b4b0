"""Count the Spark jobs a registered query launches end-to-end
(construction actions + the noop-sink write) — the structural metric
for driver-synchronized-job optimizations (fixpoint probes, audit
fusion), independent of host weather — and the tasks those jobs ran.
Tasks are a cost driver of their own: every Python task pays a fixed
worker start-up cost before any user code runs.

Usage: python tools/count_jobs.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_processor_spark.registry import all_queries  # noqa: E402
from parquet_processor_spark.session import get_spark  # noqa: E402


def count_tasks(tracker, job_ids) -> int:
    """Tasks the jobs ran: numTasks summed over their stages. A stage
    skipped because its shuffle output was reused ran no task, and one
    shared by several jobs is counted once."""
    stage_ids: set[int] = set()
    for jid in job_ids:
        # the status store is fed asynchronously; once a job reads as
        # finished, all of its stage events are in it
        while (info := tracker.getJobInfo(jid)) is not None and info.status not in ("SUCCEEDED", "FAILED"):
            time.sleep(0.05)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = [tracker.getStageInfo(sid) for sid in stage_ids]
    return sum(st.numTasks for st in stages if st is not None and st.numCompletedTasks + st.numFailedTasks)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("count-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    tracker = spark.sparkContext.statusTracker()
    for name in sys.argv[1:]:
        spark.sparkContext.setJobDescription(name)
        # job ids are globally monotone; diff the id space around the run
        lo = max([-1] + list(tracker.getJobIdsForGroup(None) or [])) + 1
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        hi = max([-1] + list(tracker.getJobIdsForGroup(None) or []))
        n = hi - lo + 1
        tasks = count_tasks(tracker, range(lo, hi + 1))
        print(f"{name:32s} jobs={n:4d}  tasks={tasks:6d}  wall={dt:7.3f}s", flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
