"""The end-to-end parse → enrich → route → aggregate plan.

One declarative DataFrame plan per run (reference: the hand-rolled poll
loop + per-type dispatch at app/main.py:272-384):

  transcripts ──parse (full-JVM regex + from_json, zero Python)
              ──enrich (broadcast equi-join, (role,tool)→event_type→severity)
              ──format (JVM concat expressions, byte-equal routed_text)
              ──fan-out (ONE write job: sinks as partition values +
                         df.observe for exact rollup counts)

Scale design (the 100 TB point — each decision is a shuffle/pass saved):
  - exactly ONE full pass over the input: routed_events and dead_letter are
    partition values of a single partitioned write (J2 fan-out without a
    second job), rollup counts ride the same job via df.observe (A1
    without an aggregation pass), checkpoints aggregate the column-pruned
    read-back of the committed output (reads only `ts`, never the text).
  - no persist/cache: nothing is materialized twice, so executor memory
    stays available to the shuffle.
  - lookup joins are broadcast (≤ 32 rows) — zero shuffle to enrich.
  - ordering/skew: hash repartition on (conv_id, turn_block) splits hot
    conversations into bounded blocks (reference FIFO had them serialize
    behind one queue, app/log_processor.py:129-169); a TERMINAL
    sortWithinPartitions at the sink restores (conv_id, turn_idx) order per
    file (a sort placed before the enrich join is silently removed by
    Catalyst's EliminateSorts; the wide terminal sort measured +0.4 s at
    1.3M rows). Hash partitioning avoids repartitionByRange's extra
    sampling pass over the (expensive) parse.

Fixed per-run cost (paid by every run and every streaming micro-batch):
  - no RDD-backed local frames: the enrich lookup and the rollups are
    inline VALUES tables (LocalRelation), so the lookup broadcasts
    without a job and the rollup write runs one task; createDataFrame
    over a Python list scans a parallelized RDD instead.
  - no inference reads of committed runs: TableIO reads each run with the
    schema its manifest recorded, so no footer-inference job per read.
  - parse/enrich/format Column expressions are built once per py4j
    gateway (functions.once_per_gateway) and reused for every plan: the
    ~5,500 py4j round-trips of building them cost ~1 s per run. The
    withColumns stages, and so the projection boundaries, are unchanged.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from illumio_spark import schema as S
from illumio_spark.functions import once_per_gateway
from illumio_spark.functions.format import with_routed_text
from illumio_spark.functions.parse import parse_turns

NULL_TOOL_KEY = "__none__"
TURN_BLOCK = 4096  # max turns of one conversation per partition (skew bound)


def _sql_str(v: str) -> str:
    """A SQL string literal for a module constant (never for user input)."""
    if "'" in v or "\\" in v:
        raise ValueError(f"constant needs escaping: {v!r}")
    return f"'{v}'"


@functools.cache
def _lookup_sql() -> str:
    sev = {e: s for e, s, _ in S.severity_rows()}
    rows = ",\n".join(
        "(" + ", ".join(map(_sql_str, (role, tool_key, et, sev[et]))) + ")"
        for role, tool, et in S.role_tool_event_rows()
        for tool_key in [tool if tool is not None else NULL_TOOL_KEY]
    )
    return (
        f"SELECT * FROM VALUES\n{rows}\n"
        "AS lookup(lk_role, lk_tool_key, lk_event_type, lk_severity)"
    )


def enrichment_lookup(spark: SparkSession) -> DataFrame:
    """(role, tool) → event_type, severity — FIXTURES.md §B broadcast side.

    An inline VALUES table (a LocalRelation): the broadcast needs no job,
    where a createDataFrame(list) frame scans a parallelized RDD."""
    return spark.sql(_lookup_sql())


@once_per_gateway
def _enrich_columns() -> tuple[Column, Column, dict[str, Column]]:
    """(tool_key, join condition, trimmed event_type/severity) for the
    enrich step (built once per gateway)."""
    from illumio_spark.functions.format import _clean as clean  # Python-strip semantics

    is_audit = F.col("event_class") == S.CLASS_AUDITABLE
    return (
        F.coalesce(F.col("tool"), F.lit(NULL_TOOL_KEY)),
        (F.col("role") == F.col("lk_role")) & (F.col("tool_key") == F.col("lk_tool_key")),
        {
            "event_type": F.when(is_audit, clean(F.col("a_event_type"))).otherwise(
                F.col("lk_event_type")
            ),
            "severity": F.when(is_audit, clean(F.col("a_severity"))).otherwise(
                F.col("lk_severity")
            ),
        },
    )


def parse_enrich_format(spark: SparkSession, transcripts: DataFrame) -> DataFrame:
    df = parse_turns(transcripts)
    tool_key, on, trimmed = _enrich_columns()
    df = (
        df.withColumn("tool_key", tool_key)
        .join(F.broadcast(enrichment_lookup(spark)), on, "left")
        .drop("lk_role", "lk_tool_key", "tool_key")
    )
    df = df.withColumns(trimmed).drop("lk_event_type", "lk_severity")
    return with_routed_text(df)


def fanout_frame(enriched: DataFrame) -> DataFrame:
    """Union sink frame: one row per turn, `sink` column names its route."""
    ok = F.col("event_class").isNotNull()
    return enriched.select(
        "conv_id",
        "turn_idx",
        "event_class",
        "event_type",
        "severity",
        F.when(ok, F.col("routed_text")).alias("routed_text"),
        F.when(~ok, F.col("text")).alias("raw_text"),
        "error_reason",
        "ts",
        F.when(ok, F.lit("routed_events")).otherwise(F.lit("dead_letter")).alias("sink"),
    )


def ordered_for_sink(
    df: DataFrame,
    n_partitions: int,
    sort: bool = True,
    turn_block: int = TURN_BLOCK,
) -> DataFrame:
    """Stable (conv_id, turn_idx) layout — the FIFO invariant (O1).

    Hash repartition on (conv_id, turn_idx div turn_block): a hot
    conversation is split into bounded ordered blocks across partitions
    (skew-proof), each output file is sorted, and sorting the file set by
    (conv_id, turn_idx) reconstructs the total order."""
    block = (F.col("turn_idx") / turn_block).cast("int")
    df = df.repartition(n_partitions, F.col("conv_id"), block)
    return df.sortWithinPartitions("conv_id", "turn_idx") if sort else df


_ROLLUPS_SQL = """SELECT * FROM VALUES
  (:summary, 'routed_events', CAST(:n_summary AS BIGINT), :run_id),
  (:auditable, 'routed_events', CAST(:n_auditable AS BIGINT), :run_id),
  (CAST(NULL AS STRING), 'dead_letter', CAST(:n_dead AS BIGINT), :run_id)
AS rollups(event_class, sink, n_rows, run_id)"""


def rollups_from_counts(counts: dict, run_id: str, spark: SparkSession) -> DataFrame:
    """Per-sink row counts as an inline VALUES table (a LocalRelation: its
    write runs one task, not one per core); run_id and the counts are
    bound parameters."""
    return spark.sql(
        _ROLLUPS_SQL,
        args={
            "summary": S.CLASS_SUMMARY,
            "auditable": S.CLASS_AUDITABLE,
            "n_summary": counts.get("n_summary", 0),
            "n_auditable": counts.get("n_auditable", 0),
            "n_dead": counts.get("n_dead", 0),
            "run_id": run_id,
        },
    )


def checkpoints_from_output(out_df: DataFrame, run_id: str) -> DataFrame:
    """Per-partition watermarks (reference state.json → T3) from the
    committed output — column-pruned scan of ts only."""
    return (
        out_df.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("partition_key"))
        .agg(F.max("ts").alias("max_ts"), F.count(F.lit(1)).alias("n_rows"))
        .withColumn("lineage_id", F.concat(F.lit(run_id), F.lit(":"), F.col("partition_key")))
        .select("partition_key", "max_ts", "n_rows", "lineage_id")
    )


def run_pipeline(spark: SparkSession, transcripts: DataFrame, io, run_id: str = "run0"):
    """Execute the full fan-out: ONE write job over the input (sinks are
    partition values, rollups ride via observe, checkpoints from the
    read-back of the committed output); returns the read-back sink
    DataFrames.

    The (conv_id, turn_block) repartition happens on the NARROW input —
    before parse widens rows ~6× — so the plan's only shuffle moves the
    minimum bytes; the O1 sort is a terminal sortWithinPartitions at the
    sink (no exchange — rows are already co-partitioned; measured +0.4 s at
    1.3M rows; an earlier narrow sort is removed by EliminateSorts). This
    also fixes scan under-parallelism on small/compacted inputs
    (maxPartitionBytes can pack a whole small table into one task)."""
    # 4 × defaultParallelism (executors × cores); measured: 64 partitions
    # beat 8 by 1.5× at local[8] and 2× at local[32]
    n_partitions = spark.sparkContext.defaultParallelism * 4
    enriched = parse_enrich_format(
        spark, ordered_for_sink(transcripts, n_partitions, sort=False)
    )

    obs = Observation("rollups")
    # terminal local sort = the O1 invariant: each sink file comes out
    # (conv_id, turn_idx)-sorted (a terminal sort survives the optimizer;
    # test_resume_skew.test_on_disk_per_file_ordering guards this)
    fan = fanout_frame(enriched).sortWithinPartitions("conv_id", "turn_idx").observe(
        obs,
        F.count(F.when(F.col("event_class") == S.CLASS_SUMMARY, 1)).alias("n_summary"),
        F.count(F.when(F.col("event_class") == S.CLASS_AUDITABLE, 1)).alias("n_auditable"),
        F.count(F.when(F.col("event_class").isNull(), 1)).alias("n_dead"),
    )
    io.write(fan, "pipeline_out", run_id, partition_by=["sink"])

    roll = rollups_from_counts(obs.get, run_id, spark)
    io.write(roll, "rollups", run_id)

    ckpt = checkpoints_from_output(io.read(spark, "pipeline_out", run_id).select("ts"), run_id)
    io.write(ckpt, "checkpoints", run_id)

    return {
        "routed_events": io.read_sink(spark, "routed_events", run_id),
        "dead_letter": io.read_sink(spark, "dead_letter", run_id),
        "rollups": io.read(spark, "rollups", run_id),
        "checkpoints": io.read(spark, "checkpoints", run_id),
    }
