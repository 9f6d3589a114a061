"""T11 retention/TTL maintenance (reference app/main.py:395-441: delete
rows older than the retention window, vacuum, prune the queue DB).

Run-level expiry (expire_runs / expire_before) and row-level TTL
(delete_where) over the TableIO seam."""

import tempfile

import pytest
from pyspark.sql import functions as F

from illumio_spark import synth
from illumio_spark.plans.pipeline import run_pipeline
from illumio_spark.plans.resume import run_resumable
from illumio_spark.sources.tableio import TableIO


@pytest.fixture(scope="module")
def io_with_runs(spark):
    pdf = synth.generate_pandas(30)
    df = spark.createDataFrame(pdf)
    io = TableIO(tempfile.mkdtemp(prefix="ttl_"))
    half = df.filter(F.date_format("ts", "yyyy-MM-dd") <= "2026-01-15")
    run_pipeline(spark, half, io=io, run_id="old_run")
    run_resumable(spark, df, io, run_id="new_run")
    return io, df


def test_expire_runs_drops_dir_and_manifest(spark, io_with_runs):
    io, df = io_with_runs
    assert set(io.committed_runs("pipeline_out")) == {"old_run", "new_run"}
    n_new = io.read(spark, "pipeline_out", "new_run").count()

    dropped = io.expire_runs(spark, "pipeline_out", ["old_run"])
    assert dropped == 1
    assert io.committed_runs("pipeline_out") == ["new_run"]
    # surviving run intact; expired run unreadable
    assert io.read(spark, "pipeline_out", "new_run").count() == n_new
    with pytest.raises(Exception):
        io.read(spark, "pipeline_out", "old_run").count()


def test_expire_before_cutoff(spark):
    pdf = synth.generate_pandas(10)
    io = TableIO(tempfile.mkdtemp(prefix="ttl2_"))
    run_pipeline(spark, spark.createDataFrame(pdf), io=io, run_id="r1")
    import time

    assert io.expire_before(spark, "pipeline_out", committed_before=0) == 0  # nothing old
    assert io.expire_before(spark, "pipeline_out", committed_before=time.time() + 1) == 1
    assert io.committed_runs("pipeline_out") == []


def test_delete_where_ts_cutoff(spark):
    pdf = synth.generate_pandas(25)
    df = spark.createDataFrame(pdf)
    io = TableIO(tempfile.mkdtemp(prefix="ttl3_"))
    run_pipeline(spark, df, io=io, run_id="r1")

    cutoff = "timestamp'2026-01-15 00:00:00'"
    before = io.read(spark, "pipeline_out", "r1")
    n_keep = before.filter(F.expr(f"NOT (ts < {cutoff})")).count()
    n_drop = before.filter(F.expr(f"ts < {cutoff}")).count()
    assert n_drop > 0 and n_keep > 0  # fixture spans the cutoff

    io.delete_where(spark, "pipeline_out", f"ts < {cutoff}")
    after = io.read(spark, "pipeline_out", "r1")
    assert after.count() == n_keep
    assert after.filter(F.expr(f"ts < {cutoff}")).count() == 0


def test_delete_where_keeps_null_condition_rows(spark):
    """Rows where the condition evaluates to NULL must be KEPT (SQL DELETE
    three-valued semantics): the parquet fallback and the Iceberg DELETE
    must agree (round-3 ADVICE fix)."""
    df = spark.createDataFrame(
        [(1, None), (2, "2026-01-10 00:00:00"), (3, "2026-01-20 00:00:00")],
        "id int, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    io = TableIO(tempfile.mkdtemp(prefix="ttl4_"))
    io.write(df, "t", run_id="r1")
    io.delete_where(spark, "t", "ts < timestamp'2026-01-15 00:00:00'")
    kept = sorted(r["id"] for r in io.read(spark, "t", "r1").collect())
    assert kept == [1, 3]  # null-ts row survives, only the true-match is deleted


def test_delete_where_preserves_partition_layout(spark):
    """The TTL rewrite must keep the run's hive partitioning so read_sink's
    partition pruning keeps working on the rewritten dir."""
    import os

    pdf = synth.generate_pandas(10)
    io = TableIO(tempfile.mkdtemp(prefix="ttl5_"))
    run_pipeline(spark, spark.createDataFrame(pdf), io=io, run_id="r1")
    io.delete_where(spark, "pipeline_out", "ts < timestamp'2026-01-10 00:00:00'")
    run_dir = os.path.join(io.root, "pipeline_out", "run_id=r1")
    subdirs = {d for d in os.listdir(run_dir) if d.startswith("sink=")}
    assert "sink=routed_events" in subdirs  # layout survived the rewrite
    assert io.read_sink(spark, "routed_events", "r1").count() > 0


def test_expire_runs_empty_list_noop(spark):
    io = TableIO(tempfile.mkdtemp(prefix="ttl6_"))
    io.write(spark.range(3), "t", run_id="r1")
    assert io.expire_runs(spark, "t", []) == 0
    assert io.committed_runs("t") == ["r1"]


def test_read_raises_on_deleted_run_dir(spark):
    """A manifest row whose data dir was deleted out-of-band must FAIL the
    read, not silently return zero rows (round-3 ADVICE fix)."""
    import shutil

    io = TableIO(tempfile.mkdtemp(prefix="ttl7_"))
    path = io.write(spark.range(3), "t", run_id="r1")
    shutil.rmtree(path)
    with pytest.raises(Exception):
        io.read(spark, "t", "r1").count()


def test_schema_evolution_across_runs(spark):
    """A column added in a later run must not break multi-run reads: older
    runs surface the new column as null (Iceberg add-column semantics on
    the parquet fallback)."""
    io = TableIO(tempfile.mkdtemp(prefix="evo_"))
    io.write(spark.createDataFrame([(1, "a")], "id int, v string"), "t", run_id="r1")
    io.write(
        spark.createDataFrame([(2, "b", 9.5)], "id int, v string, score double"),
        "t",
        run_id="r2",
    )
    rows = {r["id"]: (r["v"], r["score"]) for r in io.read(spark, "t").collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_compact_reduces_files_preserves_content_and_order(spark):
    import glob
    import os

    io = TableIO(tempfile.mkdtemp(prefix="compact_"))
    df = synth.generate_spark(spark, 150, hot_frac=0.3, parallelism=8)
    # many tiny files through the real fan-out write (4 × defaultParallelism
    # partitions per sink)
    run_pipeline(spark, df, io=io, run_id="c1")
    before = io.read(spark, "pipeline_out", "c1").orderBy("conv_id", "turn_idx").collect()
    root = os.path.join(io.root, "pipeline_out", "run_id=c1")
    files_before = len(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    assert files_before > 8

    stats = io.compact(
        spark, "pipeline_out", target_mb=128, run_id="c1",
        sort_within=["conv_id", "turn_idx"],
    )
    files_after = len(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    assert stats["files_before"] == files_before
    assert files_after < files_before and files_after == stats["files_after"]

    # content identical, partition layout (sink=...) preserved
    after = io.read(spark, "pipeline_out", "c1").orderBy("conv_id", "turn_idx").collect()
    assert after == before
    assert io.read_sink(spark, "routed_events", "c1").count() > 0
    # O1: every compacted file is (conv_id, turn_idx)-sorted internally
    for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        rows = spark.read.parquet(f).select("conv_id", "turn_idx").collect()
        keys = [(r.conv_id, r.turn_idx) for r in rows]
        assert keys == sorted(keys), f"unsorted compacted file {f}"
    # already-compact run: second pass is a no-op
    stats2 = io.compact(spark, "pipeline_out", target_mb=128, run_id="c1")
    assert stats2["runs"] == 1 and stats2["files_after"] <= files_after or stats2["runs"] == 0
