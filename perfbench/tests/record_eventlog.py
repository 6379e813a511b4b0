"""Record the tiny event log that test_eventlog.py reads.

    python3 perfbench/tests/record_eventlog.py

Runs four small jobs on a 2-core session, each under its own job group,
and one job with no group; then keeps only the events the parser reads,
with long fields (call sites, plan text, RDD lists) dropped, and writes
them to ``perfbench/tests/data/tiny_eventlog.jsonl``.

What the jobs do, and so what the tests expect:

- ``t/scan``: group a 100-row parquet file by ``k`` (4 keys) into a noop sink;
- ``t/fetch``: ``fetch_stage`` with ``fake_transport`` over 40 URLs in 2
  partitions, written as parquet: 2 files, 40 rows, Python workers run;
- ``t/json``: collect 5 of 20 JSON lines;
- no group: ``spark.range(3).count()``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402

OUT = os.path.join(HERE, "data", "tiny_eventlog.jsonl")
_KEEP = {
    "SparkListenerJobStart", "SparkListenerStageSubmitted", "SparkListenerStageCompleted",
    "SparkListenerTaskEnd", "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate", "SparkListenerDriverAccumUpdates",
}
# Dropped: call sites, plan text, RDD lists and local paths; of a job's
# properties only the group id is kept.
_DROP = {"Stage Name", "Details", "RDD Info", "Callsite", "physicalPlanDescription", "details",
         "description", "Task Executor Metrics", "simpleString", "metadata", "modifiedConfigs",
         "jobTags"}


def _trim(obj):
    if isinstance(obj, list):
        return [_trim(v) for v in obj]
    if not isinstance(obj, dict):
        return obj
    out = {k: _trim(v) for k, v in obj.items() if k not in _DROP}
    if "Properties" in out:
        group = out["Properties"].get("spark.jobGroup.id")
        out["Properties"] = {"spark.jobGroup.id": group} if group else {}
    return out


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    work = os.path.join(harness.ROOT, ".perfbench", "record-eventlog")
    shutil.rmtree(work, ignore_errors=True)
    try:
        harness.confine(work)
        from parquet_processor_spark.pipeline.fetch import fake_transport, fetch_stage
        from parquet_processor_spark.session import get_spark
        from pyspark.sql import functions as F

        pq.write_table(pa.table({"k": [i % 4 for i in range(100)], "v": list(range(100))}),
                       os.path.join(work, "t.parquet"))
        with open(os.path.join(work, "m.jsonl"), "w") as fh:
            fh.writelines(json.dumps({"url": f"u{i}"}) + "\n" for i in range(20))
        events = os.path.join(work, "events")
        spark = get_spark("eventlog-fixture", cpus=2, shuffle_partitions=2,
                          extra_conf=harness.session_conf(work, events))
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setLocalProperty("spark.jobGroup.id", "t/scan")
        spark.read.parquet(os.path.join(work, "t.parquet")).groupBy("k").count() \
            .write.format("noop").mode("overwrite").save()
        sc.setLocalProperty("spark.jobGroup.id", "t/fetch")
        urls = spark.range(40).select(
            F.concat(F.lit("https://example.org/media/"), F.col("id").cast("string")).alias("url"),
            F.col("id").alias("batch_index"))
        fetch_stage(urls.repartition(2), fake_transport).write.parquet(os.path.join(work, "out"))
        sc.setLocalProperty("spark.jobGroup.id", "t/json")
        spark.read.schema("url string").json(os.path.join(work, "m.jsonl")).limit(5).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(3).count()
        harness.stop_session(spark)
        (path,) = glob.glob(os.path.join(events, "*"))
        os.makedirs(os.path.dirname(OUT), exist_ok=True)
        with open(path) as src, open(OUT, "w") as dst:
            for line in src:
                e = json.loads(line)
                if e["Event"].rsplit(".", 1)[-1] in _KEEP:
                    dst.write(json.dumps(_trim(e), separators=(",", ":")) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
