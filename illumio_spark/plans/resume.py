"""Checkpoint-based resume: idempotent incremental re-runs.

Reference semantics (T3, SURVEY.md §2.6): processed S3 keys are recorded in
state.json after success and skipped on re-list (app/s3_manager.py:208,
253-267, 356-376) — file-level exactly-once. Here the unit is the event-day
partition (the days(ts) Iceberg transform): every committed run writes
per-day watermarks to the checkpoints table; a re-run LEFT-ANTI-joins its
input against the committed day keys and processes only the remainder.

Strictly better than the reference: atomic per-run table commits (no
half-written partitions), no look-back-window data loss (T4), and no
FIFO reordering on retry (T5) — re-runs are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from illumio_spark.plans.pipeline import run_pipeline

DAY_FMT = "yyyy-MM-dd"


def committed_days(spark: SparkSession, io) -> DataFrame:
    """Distinct day keys with a committed checkpoint row (any run)."""
    from pyspark.errors import AnalysisException

    try:
        ckpt = io.read(spark, "checkpoints")
    except (FileNotFoundError, AnalysisException):
        # first resumable run only: parquet branch raises FileNotFoundError,
        # Iceberg branch raises AnalysisException for the missing table.
        # Anything else (corrupt manifest, transient IO) must propagate —
        # treating it as "no committed days" would reprocess every day and
        # append duplicate rows to the sinks.
        return spark.createDataFrame([], "partition_key string")
    return ckpt.select("partition_key").distinct()


def pending_input(spark: SparkSession, transcripts: DataFrame, io) -> DataFrame:
    """Input rows whose event-day has no committed checkpoint (anti-join,
    the reference's processed-keys skip as a relational op — S4/J4)."""
    done = committed_days(spark, io)
    keyed = transcripts.withColumn("partition_key", F.date_format("ts", DAY_FMT))
    return keyed.join(F.broadcast(done), "partition_key", "left_anti").drop("partition_key")


def run_resumable(spark: SparkSession, transcripts: DataFrame, io, run_id: str):
    """Process only not-yet-committed days; append as a new run commit.

    Returns None if everything is already committed (idempotent re-run)."""
    todo = pending_input(spark, transcripts, io)
    if todo.isEmpty():
        return None
    return run_pipeline(spark, todo, io=io, run_id=run_id)
