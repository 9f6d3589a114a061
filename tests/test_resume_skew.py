"""Resume/checkpoint semantics (SURVEY.md §5.5) and hot-conversation skew
(§5.6): kill-after-partial-commit → re-run → no dupes, no loss; one
conversation holding ~40% of turns still yields bounded partitions."""

import tempfile

import pytest
from pyspark.sql import functions as F

from illumio_spark import oracle, synth
from illumio_spark.plans.pipeline import run_pipeline, ordered_for_sink, TURN_BLOCK
from illumio_spark.plans.resume import pending_input, run_resumable
from illumio_spark.sources.tableio import TableIO

N_CONV = 80


@pytest.fixture(scope="module")
def transcripts_pdf():
    return synth.generate_pandas(N_CONV, hot_frac=0.0)


def test_resume_no_dupes_no_loss(spark, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf)
    io = TableIO(tempfile.mkdtemp(prefix="resume_"))

    # simulated partial run: only the first half of the day range commits
    days = sorted({str(d)[:10] for d in transcripts_pdf["ts"]})
    cutoff = days[len(days) // 2]
    first_half = df.filter(F.date_format("ts", "yyyy-MM-dd") <= cutoff)
    run_pipeline(spark, first_half, io=io, run_id="run1")

    # resume: must process exactly the uncommitted remainder
    todo = pending_input(spark, df, io)
    assert todo.count() == df.filter(F.date_format("ts", "yyyy-MM-dd") > cutoff).count()
    out = run_resumable(spark, df, io, run_id="run2")
    assert out is not None

    # union across runs == full single-run oracle: no dupes, no loss
    want = oracle.run(transcripts_pdf)
    routed = io.read_sink(spark, "routed_events").toPandas().sort_values(
        ["conv_id", "turn_idx"]
    ).reset_index(drop=True)
    assert len(routed) == len(want["routed_events"])
    assert (routed["routed_text"].to_numpy() == want["routed_events"]["routed_text"].to_numpy()).all()

    # idempotent third run: nothing pending
    assert run_resumable(spark, df, io, run_id="run3") is None


def test_checkpoint_lineage_rows(spark, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf)
    io = TableIO(tempfile.mkdtemp(prefix="ckpt_"))
    run_pipeline(spark, df, io=io, run_id="r1")
    ckpt = io.read(spark, "checkpoints", "r1").toPandas()
    assert (ckpt["n_rows"] > 0).all()
    assert ckpt["lineage_id"].str.startswith("r1:").all()
    assert ckpt["n_rows"].sum() == len(transcripts_pdf)


def test_hot_conversation_skew_bounded(spark):
    pdf = synth.generate_pandas(60, hot_frac=0.4)
    hot_share = (pdf["conv_id"] == "conv-00000000").mean()
    assert hot_share > 0.25  # fixture really is skewed

    df = spark.createDataFrame(pdf)
    block = 64  # SF-down block size so the fixture exercises splitting
    parts = (
        ordered_for_sink(df, 8, sort=False, turn_block=block)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .toPandas()
    )
    # the hot conversation must NOT serialize into one partition:
    # turn-block-bounded slices spread it, so the max partition holds far
    # less than the hot conversation's share
    n_hot = int((pdf["conv_id"] == "conv-00000000").sum())
    assert n_hot > block  # fixture exercises block splitting
    assert parts["count"].max() < n_hot


def test_on_disk_per_file_ordering(spark):
    """O1: every routed_events parquet file must be (conv_id, turn_idx)-
    sorted on disk — Catalyst's EliminateSorts used to silently drop the
    narrow-input sortWithinPartitions below the enrich join (the session
    excludes that rule; this guards the invariant end-to-end)."""
    import glob

    import pandas as pd

    pdf = synth.generate_pandas(60, hot_frac=0.3)
    io = TableIO(tempfile.mkdtemp(prefix="ord_"))
    run_pipeline(spark, spark.createDataFrame(pdf), io=io, run_id="o1")
    files = glob.glob(io.root + "/pipeline_out/run_id=o1/sink=*/part-*.parquet")
    assert len(files) > 1
    for f in files:
        got = pd.read_parquet(f)[["conv_id", "turn_idx"]]
        want = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        assert got.equals(want), f"unsorted sink file {f}"


def test_skew_correctness_with_salting(spark):
    pdf = synth.generate_pandas(40, hot_frac=0.45)
    want = oracle.run(pdf)
    io = TableIO(tempfile.mkdtemp(prefix="skew_"))
    run_pipeline(spark, spark.createDataFrame(pdf), io=io, run_id="s1")
    got = io.read_sink(spark, "routed_events", "s1").toPandas().sort_values(
        ["conv_id", "turn_idx"]
    ).reset_index(drop=True)
    assert (got["routed_text"].to_numpy() == want["routed_events"]["routed_text"].to_numpy()).all()
