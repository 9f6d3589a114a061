"""Streaming operators: per-conversation sessionization, exact dedup and
the near-dup frontier streams.

The reference keeps per-log-type mutable counters and an in-flight queue
as process state (app/health_reporter.py:31-33, app/log_processor.py:95).
The Spark-native analog for *keyed* state is the JVM session_window
aggregation: `sessionize_stream` tracks, per conversation, a turn count,
byte volume and first/last timestamp, and emits a session summary row
once the conversation goes quiet for `gap` — the sessionization shape a
transcript pipeline needs (e.g. "close out a conversation and emit its
rollup once no turn arrives for 30 min").

Batch oracle: `sessionize_batch` computes the same summaries with one
groupBy (tests assert closed stream sessions equal it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def sessionize_batch(df: DataFrame) -> DataFrame:
    """Batch oracle: the same per-conversation session summary."""
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.coalesce(F.length("text"), F.lit(0))).alias("n_chars"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def sessionize_stream(
    stream: DataFrame, watermark: str = "30 minutes", gap: str = "30 minutes"
) -> DataFrame:
    """Streaming sessionizer via ``F.session_window``: the whole operator
    stays in Tungsten state management, so its cost is per-row JVM.

    Emits one row per CLOSED session (append mode): a row appears once
    the watermark passes the session's last turn + `gap`, the
    session_window contract. ``watermark`` (how long to wait for late
    data) and ``gap`` (idle time that closes a session) are unrelated
    quantities — each has its own default; tune them independently."""
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

    Why not a stateful operator: a per-band keyed state operator could
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
