"""Output checks, run outside every timed region.

Each check returns a list of human-readable problems; an empty list means
the operation's output is correct. Sink contents are read back through the
program's own ``TableIO`` read API and reduced in Spark to the
``{'sink|event_class': [count, checksum]}`` form that ``inputs`` computes
from the pure-Python oracle.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, functions as F

ROUTED_HASH = ("conv_id", "turn_idx", "event_class", "event_type", "severity", "routed_text")
DEAD_HASH = ("conv_id", "turn_idx", "raw_text", "error_reason")
SORT_SAMPLE_FILES = 8


def spark_row_hash(*cols: str) -> Column:
    """Spark twin of inputs.row_hash (decimal, so sums cannot overflow)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    digest = F.md5(F.concat_ws("\x1f", *parts))
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("decimal(38,0)")


def sink_rows(spark, io, run_id: str) -> DataFrame:
    """(run_id, key, h) for every row both sinks of one run hold."""
    routed = io.read_sink(spark, "routed_events", run_id).select(
        F.concat(F.lit("routed_events|"), F.coalesce("event_class", F.lit(""))).alias("key"),
        spark_row_hash(*ROUTED_HASH).alias("h"),
    )
    dead = io.read_sink(spark, "dead_letter", run_id).select(
        F.lit("dead_letter|").alias("key"), spark_row_hash(*DEAD_HASH).alias("h"),
    )
    return routed.unionByName(dead).withColumn("run_id", F.lit(run_id))


def sink_aggregates(spark, io, run_ids: list[str]) -> dict[str, dict]:
    """{run_id: {'sink|event_class': [count, checksum]}} in one Spark job."""
    df = sink_rows(spark, io, run_ids[0])
    for r in run_ids[1:]:
        df = df.unionByName(sink_rows(spark, io, r))
    out: dict[str, dict] = {r: {} for r in run_ids}
    for row in df.groupBy("run_id", "key").agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h")).collect():
        out[row["run_id"]][row["key"]] = [int(row["n"]), int(row["h"])]
    return out


def rollup_problems(spark, io, run_id: str, got: dict) -> list[str]:
    """Rollup rows of one run must equal the sink row counts."""
    roll = {
        f"{r['sink']}|{r['event_class'] or ''}": int(r["n_rows"])
        for r in io.read(spark, "rollups", run_id).collect()
        if r["n_rows"]
    }
    counts = {k: v[0] for k, v in got.items()}
    return [] if roll == counts else [f"{run_id}: rollups {roll} != sink counts {counts}"]


def sorted_problems(root: str) -> list[str]:
    """A sample of the pipeline_out data files must each be
    (conv_id, turn_idx)-sorted (the per-file FIFO invariant)."""
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(root, "pipeline_out"))
        for f in fs if f.endswith(".parquet")
    )
    step = max(1, len(files) // SORT_SAMPLE_FILES)
    problems = []
    for path in files[::step][:SORT_SAMPLE_FILES]:
        t = pq.read_table(path, columns=["conv_id", "turn_idx"])
        keys = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
        if keys != sorted(keys):
            problems.append(f"{path}: not (conv_id, turn_idx)-sorted")
    return problems


def compare(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got}, want {want}"]


def batch_run_problems(spark, io, run_id: str, expected: dict) -> list[str]:
    got = sink_aggregates(spark, io, [run_id])[run_id]
    return (
        compare(f"{run_id} sinks", got, expected)
        + rollup_problems(spark, io, run_id, got)
        + sorted_problems(io.root)
    )


def stream_problems(spark, io, file_expected: list[dict]) -> tuple[int, list[str]]:
    """Every micro-batch must hold exactly one landed file's rows, each file
    must be held by exactly one batch, and every batch's rollups must match
    its sinks. Returns (batches that passed, problems)."""
    runs = io.committed_runs("pipeline_out")
    if not runs:
        return 0, ["no micro-batch committed"]
    got = sink_aggregates(spark, io, runs)
    unmatched = list(file_expected)
    passed, problems = 0, []
    for r in runs:
        p = rollup_problems(spark, io, r, got[r])
        if got[r] in unmatched:
            unmatched.remove(got[r])
        else:
            p.append(f"{r}: sink aggregates {got[r]} match no landed file")
        problems += p
        passed += not p
    problems += [f"landed file never committed: {u}" for u in unmatched]
    return passed, problems + sorted_problems(io.root)


def frame_checksum(df: DataFrame, *cols: str) -> list[int]:
    """[count, checksum] over the given columns — consumes every row."""
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(spark_row_hash(*cols)).alias("h")).collect()[0]
    return [int(row["n"]), int(row["h"] or 0)]
