"""Aggregation job (SURVEY.md §3.3): the reference's aggregator workflow
(test_parquet_aggregator.yml:101-203) as one DataFrame chain.

Artifact zips + pd.concat become a single mergeSchema/recursive parquet
read; the statistics block (:169-181) becomes declarative aggregates;
the per-file stats use input_file_name(). The snapshot-supersedence
max_by (:124-127) is unnecessary under append-only writes but remains
available as operator agg_max_by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from parquet_processor_spark.io import local_frame
from parquet_processor_spark.pipeline.schemas import STATS_SCHEMA


def read_combined(spark: SparkSession, records_dir: str) -> DataFrame:
    """S3+U1: recursive discovery + schema-merging union in one scan."""
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "false")  # partition dirs are meaningful
        .parquet(records_dir)
    )


def write_combined(df: DataFrame, out_dir: str) -> None:
    """K1/K2: combined parquet + CSV (CSV needs string-safe columns only)."""
    df.write.mode("overwrite").parquet(f"{out_dir}/combined_parquet")
    df.select(
        *[F.col(c).cast("string").alias(c) for c in df.columns]
    ).write.mode("overwrite").option("header", True).csv(f"{out_dir}/combined_csv")


def compute_statistics(df: DataFrame) -> Row:
    """The statistics record (test_parquet_aggregator.yml:169-181):
    scalar aggregates + media-type map + per-file stats, in two passes
    (one over rows, one tiny over files)."""
    scalars = df.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.avg("processing_time").alias("avg_processing_time"),
        F.sum("processing_time").alias("total_processing_time"),
    ).collect()[0]
    media_counts = {
        r["media_type"]: r["n"]
        for r in df.groupBy("media_type").agg(F.count(F.lit(1)).alias("n")).collect()
        if r["media_type"] is not None
    }
    per_file = (
        df.withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("records"))
        .collect()
    )
    return Row(
        total_records=scalars["total_records"],
        files_combined=len(per_file),
        avg_processing_time=scalars["avg_processing_time"],
        total_processing_time=scalars["total_processing_time"],
        media_types=media_counts,
        source_files=[{"file": r["file"], "records": r["records"], "size": None} for r in per_file],
    )


def markdown_summary(stats: Row) -> str:
    """K5: the human-readable report (test_parquet_aggregator.yml:184-202)."""
    lines = [
        "# Aggregation Summary",
        "",
        f"- total records: {stats.total_records}",
        f"- files combined: {stats.files_combined}",
        f"- avg processing time: {stats.avg_processing_time}",
        f"- total processing time: {stats.total_processing_time}",
        "",
        "## Media types",
    ]
    for mt, n in sorted(stats.media_types.items()):
        lines.append(f"- {mt}: {n}")
    return "\n".join(lines)


def run_aggregation(spark: SparkSession, records_dir: str, out_dir: str) -> Row:
    df = read_combined(spark, records_dir)
    write_combined(df, out_dir)
    stats = compute_statistics(df)
    local_frame(spark, [stats.asDict()], STATS_SCHEMA).write.mode("overwrite").json(
        f"{out_dir}/statistics"
    )
    with open(f"{out_dir}/summary.md", "w") as fh:
        fh.write(markdown_summary(stats))
    return stats
