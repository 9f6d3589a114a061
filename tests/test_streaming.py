"""Structured Streaming pipeline: availableNow micro-batches over a file
source must reproduce the batch/oracle results exactly; windowed rollup
stream aggregates per event-time window with a watermark."""

import os
import tempfile

import pytest

from illumio_spark import oracle, synth
from illumio_spark.sources.tableio import TableIO
from illumio_spark.streaming.stream_pipeline import (
    read_transcript_stream,
    start_fanout_stream,
    start_rollup_stream,
    windowed_rollup_stream,
)

N_CONV = 60


@pytest.fixture(scope="module")
def stream_input(spark):
    pdf = synth.generate_pandas(N_CONV)
    d = tempfile.mkdtemp(prefix="stream_in_")
    # several files → several potential micro-batches
    for i in range(4):
        part = pdf.iloc[i::4].reset_index(drop=True)
        synth.write_parquet(part, os.path.join(d, f"part-{i}.parquet"))
    return d, pdf


def test_stream_fanout_matches_oracle(spark, stream_input):
    input_dir, pdf = stream_input
    io = TableIO(tempfile.mkdtemp(prefix="stream_sinks_"))
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger=2)
    q = start_fanout_stream(spark, stream, io, ckpt, available_now=True)
    q.awaitTermination(300)

    want = oracle.run(pdf)
    got = (
        io.read_sink(spark, "routed_events")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want["routed_events"])
    assert (
        got["routed_text"].to_numpy() == want["routed_events"]["routed_text"].to_numpy()
    ).all()
    dead = io.read_sink(spark, "dead_letter")
    assert dead.count() == len(want["dead_letter"])


def test_windowed_rollup_stream(spark, stream_input):
    input_dir, pdf = stream_input
    out = tempfile.mkdtemp(prefix="roll_out_")
    ckpt = tempfile.mkdtemp(prefix="roll_ckpt_")

    stream = read_transcript_stream(spark, input_dir)
    q = start_rollup_stream(windowed_rollup_stream(stream), out, ckpt)
    q.awaitTermination(300)

    got = spark.read.parquet(out).toPandas()
    # append mode emits only watermark-closed windows; with availableNow the
    # final window stays open, so totals are <= full count but > 0
    assert len(got) > 0
    assert got["n"].sum() <= len(pdf)
    assert set(got["event_class"]) <= {"summary", "auditable"}
    # window bounds are aligned hours
    assert (got["window_start"].dt.minute == 0).all()


def test_stream_dedup_matches_batch(spark, stream_input):
    # duplicate every 3rd turn into extra files; the streaming dedup must
    # reproduce the batch distinct exactly (first-arrival per turn identity)
    import pandas as pd

    from illumio_spark.streaming.stateful import dedup_stream
    from illumio_spark.streaming.stream_pipeline import read_transcript_stream

    input_dir, pdf = stream_input
    d = tempfile.mkdtemp(prefix="stream_dedup_")
    for i in range(4):
        part = pdf.iloc[i::4].reset_index(drop=True)
        synth.write_parquet(part, os.path.join(d, f"part-{i}.parquet"))
    dups = pdf.iloc[::3].reset_index(drop=True)
    synth.write_parquet(dups, os.path.join(d, "dups-0.parquet"))

    stream = read_transcript_stream(spark, d)
    out_dir = tempfile.mkdtemp(prefix="stream_dedup_out_")
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", out_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).select("conv_id", "turn_idx", "text").toPandas()
    got = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = pdf[["conv_id", "turn_idx", "text"]].drop_duplicates(
        ["conv_id", "turn_idx"]
    ).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(want) == len(pdf)  # input had unique turn ids
    assert got["text"].tolist() == want["text"].tolist()


def test_stream_dedup_bounded_state_expiry_semantics(spark):
    """VERDICT r5 task 6: pin the bounded-state divergence contract of
    dedup_stream with a watermark that expires inside the data's span.
    Probe-verified Spark semantics this encodes: (1) state eviction runs
    at end-of-batch once the watermark passes eventTime + delay; (2) a
    row (original OR duplicate) arriving after its event time fell more
    than the delay behind the watermark is discarded on input — so an
    expired key's duplicate is NOT re-emitted as a false new row; (3) a
    duplicate within the watermark is dropped via state exactly; (4) the
    watermark advances one micro-batch behind the data."""
    import time as _time

    import pandas as pd

    def mk(rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["tool"] = pdf["tool"].astype("string")
        return pdf

    from illumio_spark.streaming.stateful import dedup_stream
    from illumio_spark.streaming.stream_pipeline import read_transcript_stream

    d = tempfile.mkdtemp(prefix="stream_expiry_")
    files = [
        mk([("A", 0, "user", "hello", None, "2024-01-01 10:00:00"),
            ("B", 0, "user", "wm-pusher", None, "2024-01-01 12:00:00")]),
        mk([("E", 0, "user", "tick", None, "2024-01-01 12:01:00")]),
        mk([("A", 0, "user", "hello", None, "2024-01-01 10:00:00"),      # expired: discarded
            ("B", 0, "user", "wm-pusher", None, "2024-01-01 12:00:00"),  # in-watermark dup: deduped
            ("F", 0, "user", "fresh", None, "2024-01-01 12:02:00")]),    # on-time: emitted
    ]
    now = _time.time()
    for i, pdf in enumerate(files):
        p = os.path.join(d, f"f{i}.parquet")
        synth.write_parquet(pdf, p)
        os.utime(p, (now - 30 + 10 * i, now - 30 + 10 * i))

    out = tempfile.mkdtemp(prefix="stream_expiry_out_")
    q = (
        dedup_stream(
            read_transcript_stream(spark, d, max_files_per_trigger=1),
            watermark="10 minutes",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    removed = 0
    state_max = 0
    for p in q.recentProgress:
        for so in p.get("stateOperators", []) or []:
            removed += so.get("numRowsRemoved", 0) or 0
            state_max = max(state_max, so.get("numRowsTotal", 0))
    got = spark.read.parquet(out).toPandas()
    # one row per key; the expired duplicate of A did NOT resurface
    assert sorted(got["conv_id"].tolist()) == ["A", "B", "E", "F"]
    assert removed >= 1  # A's state was genuinely evicted mid-stream
    assert state_max < 4  # state never held all keys at once: bounded


def test_curation_map_ops_are_streaming_safe(spark):
    """The map-only corpus-assembly ops (chunk_documents, assign_splits,
    shuffle_shards) are stateless, so the same plan runs unchanged on a
    file stream and reproduces the batch output exactly — the property
    that lets a curation pipeline chunk/split/shard data as it lands."""
    import shutil

    from illumio_spark.operators.curation import (
        assign_splits,
        chunk_documents,
        shuffle_shards,
    )

    src = "/root/testdata/sf0.001/documents.parquet"
    d = tempfile.mkdtemp(prefix="cur_stream_in_")
    shutil.copy(src, os.path.join(d, "part-0.parquet"))
    batch = spark.read.parquet(d)

    def transform(df):
        tagged = shuffle_shards(
            assign_splits(df, {"train": 0.9, "val": 0.1}), 8
        ).select("doc_id", "text", "split", "shard")
        return chunk_documents(tagged.drop("split", "shard"), 16, overlap=4).join(
            tagged.select("doc_id", "split", "shard"), "doc_id"
        )

    want = transform(batch)

    out = tempfile.mkdtemp(prefix="cur_stream_out_")
    stream = spark.readStream.schema(batch.schema).parquet(d)
    q = (
        transform(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() == want.count() > 0
    assert want.exceptAll(got).isEmpty() and got.exceptAll(want).isEmpty()


def test_neardup_stream_equals_combined_batch(spark):
    """Streaming near-dup dedup (foreachBatch + signature frontier): two
    micro-batches (maxFilesPerTrigger=1, mtime-ordered) keep exactly
    what one combined batch run keeps — equality holds here because this
    corpus's near-dups all collide with their originals directly; the
    general contract is superset-with-bridge-divergence, pinned by
    test_neardup_stream_merges_path_captures_bridge below. Also pins the
    frontier state on disk (n_bands rows per processed doc) and the
    per-batch output partitioning (idempotent restart unit)."""
    import glob
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from illumio_spark.operators.dedup import N_BANDS, neardup_keepers
    from illumio_spark.streaming.stateful import neardup_stream

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    b1 = docs.filter(F.col("doc_id") < 250)
    # batch 2: fresh docs plus near-dups of batch-1 content under higher ids
    b2 = docs.filter(F.col("doc_id") >= 250).unionByName(
        docs.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zq")).alias("text"),
        )
    )
    d = tempfile.mkdtemp(prefix="neardup_stream_in_")
    now = _time.time()
    for i, b in enumerate((b1, b2)):
        p = os.path.join(d, f"b{i}")
        b.coalesce(1).write.parquet(p)
        f = glob.glob(p + "/part-*.parquet")[0]
        dst = os.path.join(d, f"f{i}.parquet")
        shutil.move(f, dst)
        shutil.rmtree(p)
        os.utime(dst, (now - 20 + 10 * i, now - 20 + 10 * i))

    base = tempfile.mkdtemp(prefix="neardup_stream_")
    out, frontier, ckpt = f"{base}/out", f"{base}/frontier", f"{base}/ckpt"
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = neardup_stream(stream, frontier, out, ckpt)
    q.awaitTermination(300)

    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    combined = docs.unionByName(
        docs.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zq")).alias("text"),
        )
    )
    want = {r.doc_id for r in neardup_keepers(combined, hash_fn="xxhash64").collect()}
    assert got == want
    assert not any(i >= 1_000_000 for i in got)  # cross-batch dups dropped
    # frontier = n_bands rows per PROCESSED doc across both batches
    assert spark.read.parquet(frontier).count() == combined.count() * N_BANDS
    # per-batch output partitions exist (the idempotent restart unit)
    assert sorted(
        os.path.basename(p) for p in glob.glob(out + "/batch=*")
    ) == ["batch=0", "batch=1"]


def test_neardup_stream_merges_path_captures_bridge(spark):
    """merges_path surfaces retroactive bridge merges per micro-batch:
    batch 1 emits A and B (not similar), batch 2's bridge doc C links
    them — the stream cannot retract B (superset contract), but
    merges/batch=1 records seen docs {A, B} as one merged component for
    downstream compaction."""
    import glob
    import shutil
    import time as _time

    from illumio_spark.streaming.stateful import neardup_stream
    from tests.test_dedup_similarity import _bridge_triple

    a, b, c = _bridge_triple()
    b1 = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    b2 = spark.createDataFrame([(10, c)], "doc_id long, text string")
    d = tempfile.mkdtemp(prefix="neardup_stream_mrg_in_")
    now = _time.time()
    for i, df in enumerate((b1, b2)):
        p = os.path.join(d, f"b{i}")
        df.coalesce(1).write.parquet(p)
        f = glob.glob(p + "/part-*.parquet")[0]
        shutil.move(f, os.path.join(d, f"f{i}.parquet"))
        shutil.rmtree(p)
        os.utime(
            os.path.join(d, f"f{i}.parquet"),
            (now - 20 + 10 * i, now - 20 + 10 * i),
        )
    base = tempfile.mkdtemp(prefix="neardup_stream_mrg_")
    out, frontier, ckpt, mrg = (
        f"{base}/out", f"{base}/frontier", f"{base}/ckpt", f"{base}/merges"
    )
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = neardup_stream(stream, frontier, out, ckpt, merges_path=mrg)
    q.awaitTermination(300)
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2}  # B already emitted; C dropped
    m0 = spark.read.parquet(f"{mrg}/batch=0")
    assert m0.count() == 0
    m1 = spark.read.parquet(f"{mrg}/batch=1").collect()
    assert {r.doc_id for r in m1} == {1, 2}
    assert len({r.component for r in m1}) == 1


def test_embedding_neardup_stream_two_batches(spark):
    """Streaming embedding near-dup: batch 2's near-dups of batch-1
    vectors drop against the two-table frontier; a genuinely novel
    vector survives; frontier holds n_tables bucket rows + 1 vec row
    per processed doc; per-batch output dirs exist."""
    import glob
    import shutil
    import time as _time

    import numpy as np

    from illumio_spark.streaming.stateful import embedding_neardup_stream

    rng = np.random.Generator(np.random.PCG64(3))
    base = rng.standard_normal((20, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    b1 = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    novel = rng.standard_normal(16)
    rows2 = [
        (100 + i, (base[i] + 0.01 * rng.standard_normal(16)).tolist())
        for i in range(10)
    ] + [(999, (novel / np.linalg.norm(novel)).tolist())]
    b2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>")

    d = tempfile.mkdtemp(prefix="emb_stream_in_")
    now = _time.time()
    for i, df in enumerate((b1, b2)):
        p = os.path.join(d, f"b{i}")
        df.coalesce(1).write.parquet(p)
        f = glob.glob(p + "/part-*.parquet")[0]
        shutil.move(f, os.path.join(d, f"f{i}.parquet"))
        shutil.rmtree(p)
        os.utime(
            os.path.join(d, f"f{i}.parquet"),
            (now - 20 + 10 * i, now - 20 + 10 * i),
        )
    basep = tempfile.mkdtemp(prefix="emb_stream_")
    out, fr, ck = f"{basep}/out", f"{basep}/frontier", f"{basep}/ckpt"
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = embedding_neardup_stream(
        stream, fr, out, ck, threshold=0.95, n_planes=4, dim=16, n_tables=3
    )
    q.awaitTermination(300)
    kept = {r.vec_id for r in spark.read.parquet(out).collect()}
    assert set(range(20)) <= kept and 999 in kept
    assert not any(100 <= i < 110 for i in kept)  # cross-batch dups dropped
    assert spark.read.parquet(f"{fr}/buckets").count() == 31 * 3
    assert spark.read.parquet(f"{fr}/vecs").count() == 31
    assert sorted(
        os.path.basename(p) for p in glob.glob(out + "/batch=*")
    ) == ["batch=0", "batch=1"]


def test_frontier_mixed_flat_and_batch_layout_raises(spark, tmp_path):
    """A frontier dir holding flat parquet files next to batch=<id> dirs
    (a pre-r8 flat frontier the per-batch stream then wrote into) must
    fail with an actionable message: partition discovery would silently
    skip the flat files and re-keep every doc they record. Moving them
    under batch=-1, as the message says, makes them readable again."""
    import glob
    import shutil

    from illumio_spark.streaming.stateful import _read_frontier_excluding

    frontier = str(tmp_path / "frontier")
    cols = ["doc_id", "band_idx", "band_key"]
    spark.createDataFrame([(1, 0, 5)], "doc_id long, band_idx int, band_key long") \
        .coalesce(1).write.parquet(frontier)
    spark.createDataFrame([(2, 0, 6)], "doc_id long, band_idx int, band_key long") \
        .coalesce(1).write.parquet(f"{frontier}/batch=0")

    with pytest.raises(ValueError, match=r"frontier .*frontier mixes flat.*batch=-1"):
        _read_frontier_excluding(spark, frontier, 1, cols)

    os.makedirs(f"{frontier}/batch=-1")
    for f in glob.glob(f"{frontier}/part-*"):
        shutil.move(f, f"{frontier}/batch=-1/")
    got = _read_frontier_excluding(spark, frontier, 1, cols)
    assert sorted(r.doc_id for r in got.collect()) == [1, 2]
