"""Custom stateful streaming operator: per-conversation session tracking.

The reference keeps per-log-type mutable counters and an in-flight queue
as process state (app/health_reporter.py:31-33, app/log_processor.py:95).
The Spark-native analog for *keyed* state is ``applyInPandasWithState``:
this operator tracks, per conversation, a running turn count, byte volume,
and last-seen timestamp, emitting a session summary row when the
conversation goes quiet for `gap` (event-time timeout) — the standard
sessionization shape a transcript pipeline needs (e.g. "close out a
conversation and emit its rollup once no turn arrives for 30 min").

Batch fallback: `sessionize_batch` computes identical summaries with a
window/groupBy (used by tests as the oracle for the stateful path).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_chars", T.LongType(), False),
        T.StructField("first_ts", T.TimestampType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
        T.StructField("closed", T.BooleanType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_chars", T.LongType(), False),
        T.StructField("first_ts_us", T.LongType(), True),
        T.StructField("last_ts_us", T.LongType(), True),
    ]
)


def _session_fn(key, batches: Iterable[pd.DataFrame], state: GroupState, gap_ms: int = 30 * 60 * 1000):
    (conv_id,) = key
    if state.hasTimedOut:
        n_turns, n_chars, first_us, last_us = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "n_turns": [n_turns],
                "n_chars": [n_chars],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
                "closed": [True],
            }
        )
        return

    n_turns, n_chars, first_us, last_us = state.get if state.exists else (0, 0, None, None)
    for pdf in batches:
        n_turns += len(pdf)
        n_chars += int(pdf["text"].str.len().fillna(0).sum())
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        first_us = int(ts_us.min()) if first_us is None else min(first_us, int(ts_us.min()))
        last_us = int(ts_us.max()) if last_us is None else max(last_us, int(ts_us.max()))

    state.update((n_turns, n_chars, first_us, last_us))
    state.setTimeoutTimestamp(last_us // 1000 + gap_ms)  # ms: last + gap
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "n_turns": [n_turns],
            "n_chars": [n_chars],
            "first_ts": [pd.Timestamp(first_us, unit="us")],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
            "closed": [False],
        }
    )


def _parse_duration_ms(d: str) -> int:
    n, unit = d.split()
    return int(n) * {"second": 1000, "minute": 60_000, "hour": 3_600_000}[unit.rstrip("s")]


def sessionize_stream(
    stream: DataFrame, watermark: str = "30 minutes", gap: str = "30 minutes"
) -> DataFrame:
    """applyInPandasWithState sessionizer over a transcript stream.

    `gap` is the quiet period that closes a session (event-time timeout).
    It has its own explicit default — a watermark delay (late-data
    tolerance) and a session gap are unrelated quantities, so tuning one
    never silently changes the other (same contract as
    sessionize_stream_native)."""
    import functools

    gap_ms = _parse_duration_ms(gap)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            functools.partial(_session_fn, gap_ms=gap_ms),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(df: DataFrame) -> DataFrame:
    """Batch oracle: the same per-conversation session summary."""
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("n_chars"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def sessionize_stream_native(
    stream: DataFrame, watermark: str = "30 minutes", gap: str = "30 minutes"
) -> DataFrame:
    """JVM-native streaming sessionizer via ``F.session_window`` — the
    fast path when sessions only need AGGREGATES (count/sum/min/max): the
    whole operator stays in Tungsten state management, no Python worker,
    no pandas group invocations, no state ser/de.

    Measured (BENCH/streaming_point.json): the applyInPandasWithState
    path pays ~14× batch cost on 75 k small groups because its cost is
    per-GROUP Python; this plan's cost is per-row JVM. Use
    ``sessionize_stream`` only when the session logic genuinely needs
    imperative per-turn state (custom timeout actions, per-turn lineage);
    emits one row per CLOSED session (append mode — watermark must pass
    the session gap before a row appears, the session_window contract).

    ``watermark`` (how long to wait for late data) and ``gap`` (idle time
    that closes a session) are unrelated quantities — each has its own
    default; tune them independently (r5 ADVICE: gap no longer silently
    aliases the watermark delay)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("n_chars"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "conv_id", "n_turns", "n_chars", "first_ts", "last_ts",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming-native exact dedup (the S4/J4 anti-join as a stream).

    ``dropDuplicatesWithinWatermark`` keeps first-arrival rows per key and
    expires key state once the event-time watermark passes eventTime +
    delay — bounded state at any stream length, the property the
    reference's processed-keys set (app/log_processor.py:129-169, grows
    forever in sqlite) lacks. Keys default to the (conv_id, turn_idx)
    turn identity.

    Verified divergence contract (pytest-pinned, r6): duplicates arriving
    within `watermark` of first arrival are dropped exactly; rows whose
    event time has fallen more than `watermark` behind the stream's
    watermark are DISCARDED on input — originals and duplicates alike —
    so an expired key's duplicate never resurfaces as a false new row,
    at the price of also dropping that-late originals (the explicit
    engine form of the reference's look-back-window file loss, T2/T4).
    State eviction runs at end-of-batch; the watermark itself advances
    one micro-batch behind the data (standard Spark semantics)."""
    keys = keys or ["conv_id", "turn_idx"]
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def neardup_stream(
    stream: DataFrame,
    frontier_path: str,
    output_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges_path: str | None = None,
):
    """Streaming NEAR-dup dedup: each micro-batch runs the cross-run
    frontier operator (dedup.incremental_neardup) against an
    accumulating signature table, appends the survivors to
    `output_path`, and advances the frontier — Structured Streaming's
    micro-batch model IS the "run" boundary of the resume pattern, so
    foreachBatch + the frontier gives streaming near-duplication the
    exact batch semantics: min-id keeper within the batch, seen-wins
    across batches. The emitted set is a SUPERSET of what one combined
    batch run keeps, diverging only on retroactive bridge merges (a
    later doc linking two already-emitted keepers — see
    incremental_neardup's contract; streaming output can't be
    retracted). Pass merges_path to capture those merge events per
    batch (output_path-style batch=<id> dirs) for downstream
    compaction.

    Why not a stateful operator: per-band applyInPandasWithState could
    flag band collisions, but the keep decision needs a per-DOC verdict
    over all its bands plus connected components over the collision
    graph — a second keyed stateful stage, and CC is iterative (not
    expressible in one state update). foreachBatch runs the proven
    DataFrame plan per batch instead; state lives in the frontier
    parquet (n_bands rows per doc ever seen), bounded by corpus size
    like every dedup frontier.

    Restart discipline (r8, the ADVICE-high replay-poisoning fix): every
    write is per-batch idempotent. Survivors land in
    output_path/batch=<batch_id> with OVERWRITE, and the frontier append
    is ALSO a batch=<batch_id> OVERWRITE partition whose dir the reading
    side EXCLUDES for the batch being processed. The r7 shape appended
    new_bands flat AFTER the output commit; a crash between that append
    and the streaming checkpoint commit made the REPLAYED batch read its
    own bands as 'seen' — every doc's component touched a seen doc, kept
    came out empty, and the batch=<id> overwrite destroyed the previous
    attempt's survivors (permanent loss: docs in frontier, in no
    output). With the per-batch frontier partition the replay sees
    exactly the pre-batch frontier, recomputes the identical keeper set,
    and overwrites both its output and its own frontier partition —
    idempotent under any crash point, and duplicate band rows can no
    longer accumulate across replays.

    Returns the StreamingQuery (caller awaits/stops it)."""
    return _start_per_batch(
        stream, checkpoint_path, _neardup_stream_batch,
        frontier_path=frontier_path, output_path=output_path,
        id_col=id_col, text_col=text_col, merges_path=merges_path,
    )


def _start_per_batch(stream: DataFrame, checkpoint_path: str, one_batch, **kwargs):
    """Start `stream` as an availableNow foreachBatch query checkpointed
    at checkpoint_path, calling one_batch(batch, batch_id, **kwargs) per
    micro-batch — the shared starter of the frontier streams."""
    return (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: one_batch(batch, batch_id, **kwargs)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _read_frontier_excluding(spark, path: str, batch_id: int, cols: list[str]):
    """Read a batch=<id>-partitioned frontier, EXCLUDING the partition of
    the batch currently being (re)processed — partition pruning drops the
    dir before any file is touched, so a replayed batch sees exactly the
    frontier state its first attempt saw. Returns None when the frontier
    does not exist yet (first batch).

    A dir that mixes flat parquet files (the pre-r8 appended layout, or
    a frontier bootstrapped flat) with batch=<id> dirs raises ValueError:
    Spark's partition discovery silently skips the flat files, so the
    previously-seen docs would be re-kept."""
    from illumio_spark.sources.tableio import read_parquet_if_exists
    from pyspark.sql import functions as F

    df = read_parquet_if_exists(spark, path)
    if df is None:
        return None
    if "batch" in df.columns:
        # inputFiles is the listing the read already made — no extra IO
        if any(not f.rsplit("/", 2)[-2].startswith("batch=") for f in df.inputFiles()):
            raise ValueError(
                f"frontier {path} mixes flat parquet files with batch=<id> dirs; "
                f"move the flat files under {path}/batch=-1 and restart"
            )
        df = df.filter(F.col("batch") != batch_id)
    return df.select(*cols)


def _neardup_stream_batch(
    batch: DataFrame, batch_id: int, frontier_path: str, output_path: str,
    id_col: str = "doc_id", text_col: str = "text",
    merges_path: str | None = None,
) -> None:
    """One neardup_stream micro-batch (module-level so the replay
    discipline is directly pytest-drivable)."""
    from illumio_spark.operators.dedup import incremental_neardup

    spark = batch.sparkSession
    seen = _read_frontier_excluding(
        spark, frontier_path, batch_id, [id_col, "band_idx", "band_key"]
    )
    kept, new_bands, merges = incremental_neardup(
        batch, seen, id_col=id_col, text_col=text_col
    )
    kept.write.mode("overwrite").parquet(f"{output_path}/batch={batch_id}")
    if merges_path is not None:
        merges.write.mode("overwrite").parquet(f"{merges_path}/batch={batch_id}")
    # frontier advances only after the batch's output is durable, under
    # this batch's OWN partition — replays overwrite instead of append
    new_bands.write.mode("overwrite").parquet(f"{frontier_path}/batch={batch_id}")


def embedding_neardup_stream(
    stream: DataFrame,
    frontier_path: str,
    output_path: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 4,
    dim: int = 64,
    n_tables: int = 3,
):
    """Streaming EMBEDDING near-dup dedup — neardup_stream's twin for
    the vector family: each micro-batch runs
    similarity.incremental_embedding_neardup against the accumulating
    two-table frontier (frontier_path/buckets + frontier_path/vecs) and
    appends survivors to output_path/batch=<id>. Same contracts as the
    text stream: exact min-id-keeper/seen-wins batch semantics, emitted
    set ⊇ combined-run keepers with retroactive bridge merges the
    divergence (resolve them periodically with
    compact_embedding_frontier), OVERWRITE-per-batch idempotent
    restarts, frontier appended only after the output commits.

    State is n_tables bucket rows + one vector row per doc ever
    processed; the per-batch cost is O(batch + collisions) because
    buckets with no new doc are pruned before any vector moves
    (incremental_embedding_neardup's scale shape).

    Restart discipline (r8): both frontier tables advance as
    batch=<batch_id> OVERWRITE partitions that the reading side excludes
    for the batch being processed — the same replay-poisoning fix as
    neardup_stream, which additionally closes the r7 torn-frontier
    window: a crash between the buckets write and the vecs write leaves
    partial batch partitions that the replay simply overwrites, so
    orphan bucket rows (bucket without vector) can no longer
    under-detect candidates on the NEXT batch either — the incomplete
    partition is invisible to its own replay and rewritten before any
    later batch reads it.

    File-source caveat: the stream's fixed schema must match every
    file's physical vector type — a source mixing array<float> and
    array<double> files fails the parquet read (Spark file-source
    semantics); cast upstream at write time."""
    return _start_per_batch(
        stream, checkpoint_path, _embedding_stream_batch,
        frontier_path=frontier_path, output_path=output_path,
        id_col=id_col, vec_col=vec_col, threshold=threshold,
        n_planes=n_planes, dim=dim, n_tables=n_tables,
    )


def _embedding_stream_batch(
    batch: DataFrame, batch_id: int, frontier_path: str, output_path: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.9, n_planes: int = 4, dim: int = 64,
    n_tables: int = 3,
) -> None:
    """One embedding_neardup_stream micro-batch (module-level so the
    replay discipline is directly pytest-drivable)."""
    from illumio_spark.operators.similarity import incremental_embedding_neardup

    spark = batch.sparkSession
    seen_b = _read_frontier_excluding(
        spark, f"{frontier_path}/buckets", batch_id, [id_col, "tbl", "bucket"]
    )
    seen_v = _read_frontier_excluding(
        spark, f"{frontier_path}/vecs", batch_id, [id_col, vec_col]
    )
    kept, new_b, new_v = incremental_embedding_neardup(
        batch, seen_b, seen_v, id_col=id_col, vec_col=vec_col,
        threshold=threshold, n_planes=n_planes, dim=dim, n_tables=n_tables,
    )
    kept.write.mode("overwrite").parquet(f"{output_path}/batch={batch_id}")
    new_b.write.mode("overwrite").parquet(f"{frontier_path}/buckets/batch={batch_id}")
    new_v.write.mode("overwrite").parquet(f"{frontier_path}/vecs/batch={batch_id}")
