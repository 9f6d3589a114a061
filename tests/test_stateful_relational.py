"""Streaming sessionizer vs its batch oracle, and the salted two-phase
aggregation under a hot key."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from illumio_spark import synth
from illumio_spark.operators.relational import salted_agg, windowed_growth
from illumio_spark.streaming.stateful import sessionize_batch, sessionize_stream


@pytest.fixture(scope="module")
def pdf():
    return synth.generate_pandas(50, hot_frac=0.3)


def test_salted_agg_hot_key(spark, pdf):
    df = spark.createDataFrame(pdf)
    got = {
        r["conv_id"]: (r["n"], r["chars"])
        for r in salted_agg(
            df.withColumn("n_chars", F.length("text")),
            ["conv_id"],
            {"n": ("count", "*"), "chars": ("sum", "n_chars")},
        ).collect()
    }
    want = {
        r["conv_id"]: (r["n"], r["chars"])
        for r in df.withColumn("n_chars", F.length("text"))
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
        .collect()
    }
    assert got == want


def test_salted_agg_heavy_keys_only(spark, pdf):
    # heavy-hitter mode: only listed keys are salted; results stay exact
    df = spark.createDataFrame(pdf).withColumn("n_chars", F.length("text"))
    hot = spark.createDataFrame([("conv-00000000",)], "k string")
    got = {
        r["conv_id"]: (r["n"], r["chars"])
        for r in salted_agg(
            df, ["conv_id"], {"n": ("count", "*"), "chars": ("sum", "n_chars")},
            heavy_keys=hot,
        ).collect()
    }
    want = {
        r["conv_id"]: (r["n"], r["chars"])
        for r in df.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
        .collect()
    }
    assert got == want


def test_windowed_growth(spark, pdf):
    df = spark.createDataFrame(pdf)
    got = windowed_growth(df, "ts", "1 DAY").count()
    mx = pdf["ts"].max()
    want = int((pdf["ts"] >= mx - __import__("pandas").Timedelta(days=1)).sum())
    assert got == want


def test_salted_agg_duplicate_heavy_keys(spark):
    """Duplicate values in the heavy_keys frame must not duplicate fact rows
    through the broadcast left join (round-3 ADVICE fix)."""
    from illumio_spark.operators.relational import salted_agg

    df = spark.createDataFrame([("hot", 1)] * 10 + [("cold", 1)] * 3, "k string, v int")
    heavy = spark.createDataFrame([("hot",), ("hot",)], "k string")  # duplicated
    out = {
        r["k"]: (r["n"], r["s"])
        for r in salted_agg(
            df, ["k"], {"n": ("count", "*"), "s": ("sum", "v")}, heavy_keys=heavy
        ).collect()
    }
    assert out == {"hot": (10, 10), "cold": (3, 3)}


def test_committed_days_propagates_corrupt_manifest(spark, tmp_path):
    """A corrupt checkpoints manifest must raise, not read as 'no committed
    days' (which would silently reprocess + duplicate every day)."""
    import pytest

    from illumio_spark.plans.resume import committed_days
    from illumio_spark.sources.tableio import TableIO

    io = TableIO(str(tmp_path))
    io.write(spark.range(2), "checkpoints", run_id="r1")
    with open(io._manifest_path("checkpoints"), "w") as f:
        f.write("{not json")
    with pytest.raises(Exception):
        committed_days(spark, io).count()


def _closed_sessions(spark, input_dir: str, name: str, **kw):
    """Run sessionize_stream over input_dir one file per micro-batch
    (append mode, memory sink) and return the closed sessions."""
    from illumio_spark import schema as S

    stream = (
        spark.readStream.schema(S.TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = (
        sessionize_stream(stream, **kw)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"{name}_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.sql(f"select * from {name}").toPandas()
        .sort_values(["conv_id", "session_start"]).reset_index(drop=True)
    )


def test_sessionize_stream_matches_batch_for_closed_sessions(spark, pdf):
    """JVM session_window sessionizer: closed sessions must equal the
    batch aggregate exactly, and a >gap quiet period must split a
    conversation into two session rows. A late sentinel conversation in a
    second file (maxFilesPerTrigger=1 → second micro-batch) advances the
    watermark so the sessions before it close and emit in append mode."""
    import numpy as np
    import pandas as pd

    from illumio_spark import schema as S

    t0 = pd.Timestamp("2026-01-10 12:00:00")

    def mk(conv, times, start_idx=0, base=t0):
        return pd.DataFrame(
            {
                "conv_id": conv,
                "turn_idx": np.arange(start_idx, start_idx + len(times), dtype="int32"),
                "role": "user",
                "text": [f"turn {i}" for i in range(len(times))],
                "tool": None,
                "ts": pd.Series(
                    [base + pd.Timedelta(seconds=s) for s in times]
                ).astype("datetime64[us]"),
            }
        )

    input_dir = tempfile.mkdtemp(prefix="sess_in_")
    # conv A: burst 1 (0,10,20 s), quiet 120 s > 60 s gap, burst 2 (140,150 s)
    synth.write_parquet(
        pd.concat([mk("conv-A", [0, 10, 20]), mk("conv-A", [140, 150], 3)]),
        os.path.join(input_dir, "part-0.parquet"),
    )
    # sentinel a day later pushes the watermark past conv A entirely
    synth.write_parquet(mk("conv-Z", [86400]), os.path.join(input_dir, "part-1.parquet"))

    got = _closed_sessions(
        spark, input_dir, "gap_sessions", watermark="0 seconds", gap="60 seconds"
    )
    a = got[got.conv_id == "conv-A"]
    assert len(a) == 2, f"expected 2 closed sessions for conv-A, got\n{got}"
    assert a["n_turns"].tolist() == [3, 2]
    assert a["n_chars"].tolist() == [3 * len("turn 0"), 2 * len("turn 0")]
    assert a["first_ts"].tolist() == [t0, t0 + pd.Timedelta(seconds=140)]
    assert a["last_ts"].tolist() == [
        t0 + pd.Timedelta(seconds=20), t0 + pd.Timedelta(seconds=150)
    ]
    # the sentinel's own session is still open (nothing after it) → absent
    assert (got.conv_id == "conv-Z").sum() == 0

    # skewed synth corpus (one hot conversation): turn gaps are 1-300 s,
    # under the default 30-minute gap, so every conversation is exactly one
    # session and must equal the batch rollup of the same file
    corpus_dir = tempfile.mkdtemp(prefix="sess_corpus_in_")
    corpus = os.path.join(corpus_dir, "part-0.parquet")
    synth.write_parquet(pdf, corpus)
    synth.write_parquet(
        mk("conv-Z", [0], base=pdf["ts"].max() + pd.Timedelta(days=1)),
        os.path.join(corpus_dir, "part-1.parquet"),
    )
    got = _closed_sessions(spark, corpus_dir, "corpus_sessions", watermark="0 seconds")
    want = (
        sessionize_batch(spark.read.schema(S.TRANSCRIPT_SCHEMA).parquet(corpus))
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    assert len(want) == 50
    cols = ["conv_id", "n_turns", "n_chars", "first_ts", "last_ts"]
    pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)


_FRONTIER_DOCS = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "alpha beta gamma delta epsilon zeta"),
    (3, "completely different text content here now"),
]


def test_neardup_stream_first_batch_replays_over_uncommitted_frontier(spark, tmp_path):
    """A first micro-batch that died inside its frontier write leaves only
    the committer's batch=0/_temporary/ tree. No row was committed, so the
    replay must run as a clean first batch, not fail schema inference."""
    from illumio_spark.streaming.stateful import _neardup_stream_batch

    docs = spark.createDataFrame(_FRONTIER_DOCS, "doc_id long, text string")
    clean_out = str(tmp_path / "clean_out")
    _neardup_stream_batch(docs, 0, str(tmp_path / "clean_frontier"), clean_out)

    frontier = tmp_path / "frontier"
    attempt = frontier / "batch=0" / "_temporary" / "0" / "_temporary" / "attempt_0"
    docs.write.parquet(str(tmp_path / "staged"))
    attempt.mkdir(parents=True)
    for f in (tmp_path / "staged").glob("part-*.parquet"):
        f.rename(attempt / f.name)
    out = str(tmp_path / "out")
    _neardup_stream_batch(docs, 0, str(frontier), out)

    def ids(path):
        return sorted(r.doc_id for r in spark.read.parquet(path).collect())

    assert ids(f"{out}/batch=0") == ids(f"{clean_out}/batch=0") == [1, 3]
    assert ids(str(frontier)) == ids(str(tmp_path / "clean_frontier"))


def test_neardup_stream_corrupt_frontier_file_still_raises(spark, tmp_path):
    """Only a commit-less frontier reads as empty: a committed part file
    that is not parquet must fail the batch instead of silently dropping
    the cross-batch dedup state."""
    from py4j.protocol import Py4JJavaError

    from illumio_spark.streaming.stateful import _neardup_stream_batch

    committed = tmp_path / "frontier" / "batch=0"
    committed.mkdir(parents=True)
    (committed / "part-00000.parquet").write_bytes(b"not a parquet file")
    docs = spark.createDataFrame(_FRONTIER_DOCS, "doc_id long, text string")
    with pytest.raises(Py4JJavaError, match="parquet"):
        _neardup_stream_batch(docs, 1, str(tmp_path / "frontier"), str(tmp_path / "out"))
