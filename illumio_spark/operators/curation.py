"""Corpus-assembly operators: the step AFTER cleaning, where curated
documents become a training mixture — per-source sampling weights and
GPT-style concat-and-chunk sequence packing.

Reference parity: the reference pipeline ends at routed sinks + rollup
aggregates (app/log_processor.py routing, app/health_reporter.py counts);
these operators are the training-data extension family the SURVEY §2
addendum calls for, same role as operators/dedup.py.

Scale notes:
  - mixture_weights: one map-side-combined groupBy over the source column
    (|sources| rows out — always tiny) + a broadcast of the target map.
    At 100 TB this is a single shuffle of partial sums.
  - pack_chunks: one window cumsum per stratum. The window key is the
    stratum (source) and the order key is doc_id — at 100 TB each
    stratum's running sum is a single-pass prefix scan per partition
    range; for a global (stratum=None) pack order the window has ONE
    partition, so prefer per-source strata at scale (each source packs
    independently, which is also what data-mixing pipelines want).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from illumio_spark.functions import text as TX


def mixture_weights(
    df: DataFrame,
    targets: dict[str, float],
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source sampling weights to hit a target token mixture.

    Given target fractions per source (need not sum to 1 — they are
    normalized), returns one row per observed source:
      (source, n_docs, n_tokens, actual_frac, target_frac, weight)
    where weight = target_frac / actual_frac — the relative sampling /
    repeat factor that reshapes the corpus into the target mixture
    (Pile/Dolma-style data mixing). Sources absent from `targets` get
    target_frac 0.0 and weight 0.0 (dropped from the mix); weights are
    exact ratios, consumer normalizes (e.g. cap at max-repeat budget).

    Determinism: pure aggregation — no sampling happens here; pair with
    a hash-predicate filter (xxhash64(id) % K < weight*K) to materialize
    the mix scan-locally without a shuffle.
    """
    tot = sum(targets.values()) or 1.0
    norm = [(k, float(v) / tot) for k, v in sorted(targets.items())]
    tgt = df.sparkSession.createDataFrame(norm, f"{source_col} string, target_frac double")
    per = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count(F.col(text_col)).cast("bigint")).alias("n_tokens"),
    )
    # 1-row broadcast total instead of an unpartitioned window: same
    # value, no single-partition WindowExec on the (tiny) aggregate
    total = per.agg(F.sum("n_tokens").alias("__tot"))
    return (
        per.crossJoin(F.broadcast(total))
        .withColumn(
            "actual_frac", F.col("n_tokens").cast("double") / F.col("__tot")
        )
        .drop("__tot")
        .join(F.broadcast(tgt), source_col, "left")
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            "actual_frac",
            F.coalesce(F.col("target_frac"), F.lit(0.0)).alias("target_frac"),
            (
                F.coalesce(F.col("target_frac"), F.lit(0.0)) / F.col("actual_frac")
            ).alias("weight"),
        )
    )


def pack_chunks(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str | None = "source",
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing coordinates.

    Documents are concatenated in deterministic (stratum, id) order and
    the token stream is cut every `seq_len` tokens; each doc's row
    reports where its tokens land:
      (stratum?, doc_id, n_tokens, start_off, first_pack, last_pack)
    with start_off the doc's 0-based offset in its stratum's token
    stream, first_pack/last_pack = floor(start/seq_len),
    floor((end-1)/seq_len). A doc with last_pack > first_pack straddles
    a pack boundary (the concat-and-chunk trade-off this output makes
    visible: SUM(last_pack - first_pack) is the number of split docs).
    Empty docs (0 tokens) carry first_pack = last_pack = the pack their
    offset falls in (they occupy no tokens). NULL text yields NULL
    n_tokens, contributes 0 to every later offset (SUM skips nulls),
    and lands in the pack at its offset — probe-verified on Spark 4.1
    (size(NULL) is NULL here, not the legacy -1, so no offset
    corruption).

    One window cumsum per stratum; pass stratum_col=None to pack the
    whole corpus as a single stream (single-partition window — fine at
    test SF, use strata at scale).
    """
    n_tok = TX.token_count(F.col(text_col)).cast("bigint")
    keys = [stratum_col] if stratum_col else []
    w = Window.partitionBy(*keys).orderBy(id_col)
    d = df.select(*keys, id_col, n_tok.alias("n_tokens"))
    d = d.withColumn(
        "start_off",
        F.coalesce(
            F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("bigint"),
        ),
    )
    end_tok = F.col("start_off") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    return d.select(
        *keys,
        id_col,
        "n_tokens",
        "start_off",
        F.floor(F.col("start_off") / seq_len).cast("bigint").alias("first_pack"),
        F.floor(end_tok / seq_len).cast("bigint").alias("last_pack"),
    )


def pack_stats(packed: DataFrame, seq_len: int, stratum_col: str | None = "source") -> DataFrame:
    """Pack-level summary of pack_chunks output, per stratum:
    (stratum?, n_docs, n_tokens, n_packs, n_split_docs, fill_frac) where
    n_packs = ceil(total_tokens / seq_len), n_split_docs counts docs
    straddling >= 1 boundary, and fill_frac = total_tokens /
    (n_packs * seq_len) — the packing efficiency a pipeline monitors."""
    keys = [stratum_col] if stratum_col else []
    agg = packed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(
            (F.col("last_pack") > F.col("first_pack")).cast("bigint")
        ).alias("n_split_docs"),
    )
    n_packs = F.ceil(F.col("n_tokens") / seq_len).cast("bigint")
    return agg.select(
        *keys,
        "n_docs",
        "n_tokens",
        n_packs.alias("n_packs"),
        "n_split_docs",
        (
            F.col("n_tokens").cast("double") / (n_packs * F.lit(seq_len))
        ).alias("fill_frac"),
    )


def _md5_frac(key: F.Column) -> F.Column:
    """First 8 md5 hex digits of `key` as uint32 / 2^32 — a uniform
    [0, 1) fraction an external engine reproduces bit-for-bit (DuckDB:
    CAST(concat('0x', substr(md5(k), 1, 8)) AS BIGINT) / 4294967296.0).
    Runs once per row, so the digest cost is noise next to the scan."""
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
        / F.lit(4294967296.0)
    )


def apply_mixture(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministically materialize a data mixture from per-source repeat
    factors (mixture_weights' `weight` column): each doc appears
    floor(w) + (hash_frac < frac(w)) times, tagged with copy_idx — the
    Pile/Dolma "epoch multiplier" made exact. w < 1 is a deterministic
    downsample (doc kept iff its hash fraction < w); w = 0 or a source
    absent from `weights` drops the source; w = 2.25 repeats every doc
    twice and a hash-selected quarter a third time, so per-source
    expected token share matches the target mixture without RNG state.

    hash_frac = first 8 md5 hex digits of 'source:id' as uint32 / 2^32 —
    md5 so an external engine reproduces the selection bit-for-bit
    (xxhash64 has no cross-engine twin; this runs once per doc, not per
    token, so the digest cost is noise).

    Scale: broadcast of the (tiny) weight map + a map-side explode — no
    shuffle; output co-partitioned with the input scan.
    """
    w_df = df.sparkSession.createDataFrame(
        sorted((k, float(v)) for k, v in weights.items()),
        f"{source_col} string, __w double",
    )
    frac = _md5_frac(F.concat_ws(":", F.col(source_col), F.col(id_col)))
    w = F.coalesce(F.col("__w"), F.lit(0.0))
    n_copies = (
        F.floor(w) + (frac < (w - F.floor(w))).cast("bigint")
    ).alias("__n")
    return (
        df.join(F.broadcast(w_df), source_col, "left")
        .select("*", n_copies)
        .withColumn(
            "copy_idx",
            F.explode(
                F.when(
                    F.col("__n") > 0,
                    F.sequence(F.lit(0).cast("bigint"), F.col("__n") - 1),
                ).otherwise(F.array().cast("array<bigint>"))
            ),
        )
        .drop("__w", "__n")
    )


def select_token_budget(
    df: DataFrame,
    budget: int,
    order_col: str | None = None,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy per-source selection under a token budget: docs are taken in
    (order_col, id) ascending order (pass e.g. a negated quality score
    for best-first) until the stratum's running token total reaches
    `budget`. A doc is kept iff the total BEFORE it is < budget, so the
    straddling doc is included and the selection overshoots by at most
    one document — the standard fill-until-full contract. Returns
    (source, id, n_tokens, cum_before) for the kept docs; deterministic
    because the ordering is made total with the id tiebreaker.

    Scale: one window prefix-scan per source stratum (same shape as
    pack_chunks) followed by a row-local filter — a single shuffle on
    the source key.
    """
    order = [order_col, id_col] if order_col else [id_col]
    w = Window.partitionBy(source_col).orderBy(*order)
    n_tok = TX.token_count(F.col(text_col)).cast("bigint")
    d = df.select(
        source_col, *([order_col] if order_col else []), id_col,
        n_tok.alias("n_tokens"),
    )
    return (
        d.withColumn(
            "cum_before",
            F.coalesce(
                F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("bigint"),
            ).cast("bigint"),
        )
        .filter(F.col("cum_before") < budget)
        .select(source_col, id_col, "n_tokens", "cum_before")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_empty: bool = False,
) -> DataFrame:
    """Sliding-window document chunking (pretraining / RAG chunker): cut
    each doc's whitespace-token stream into windows of `chunk_tokens`
    tokens advancing by stride = chunk_tokens - overlap, so consecutive
    chunks share `overlap` tokens. Returns one row per chunk:
      (id, chunk_idx, start_tok, n_chunk_tokens, chunk_text)
    A doc with n_tokens <= chunk_tokens yields exactly one chunk;
    otherwise n_chunks = ceil((n_tokens - chunk_tokens) / stride) + 1 —
    every chunk starts inside the doc and the last one always reaches
    the tail (it may be shorter than chunk_tokens; no chunk is ever a
    strict prefix of its predecessor). NULL text yields zero chunks
    (sequence(NULL) explodes to nothing); empty text tokenizes to the
    one-element [''] array both engines produce and yields one
    one-token chunk — degenerate but cross-engine-stable, and what the
    DuckDB oracle replays. A pretraining user usually wants ZERO chunks
    for empty/whitespace-only docs instead: pass drop_empty=True
    (default off purely for oracle parity; the filter is a map-side
    predicate on the same tokenized column, still zero shuffle).

    Tokenizer is the engine-wide split(trim(text), '\\s+') (same as
    token_count), so chunk token coordinates line up with pack_chunks /
    select_token_budget offsets.

    Scale: map-only — tokenize, a per-row sequence explode, and an
    array slice, zero shuffle (plan-asserted); the fan-out is bounded by
    n_tokens / stride per doc, co-partitioned with the input scan.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.col("__n")
    n_chunks = F.when(n <= chunk_tokens, F.lit(1).cast("bigint")).otherwise(
        F.floor((n - chunk_tokens + stride - 1) / stride).cast("bigint") + 1
    )
    start = (F.col("chunk_idx") * stride).cast("bigint")
    chunk_len = F.least(F.lit(chunk_tokens).cast("bigint"), F.col("__n") - start)
    base = df.select(
        id_col, toks.alias("__toks"), F.size(toks).cast("bigint").alias("__n")
    )
    if drop_empty:
        # an empty/whitespace-only text splits to the one-element ['']
        # array — size 1 with an empty sole token identifies it exactly
        base = base.filter(
            ~((F.col("__n") == 1) & (F.element_at("__toks", 1) == ""))
        )
    return (
        base.withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)),
        )
        .select(
            id_col,
            "chunk_idx",
            start.alias("start_tok"),
            chunk_len.alias("n_chunk_tokens"),
            F.array_join(
                F.slice(F.col("__toks"), start + 1, chunk_len), " "
            ).alias("chunk_text"),
        )
    )


def select_top_frac(
    df: DataFrame,
    frac: float,
    score_col: str,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    descending: bool = True,
) -> DataFrame:
    """Quantile-threshold quality selection: keep the top `frac` of each
    stratum's docs by score (the FineWeb/DCLM move — classifier or
    heuristic scores exist, the corpus keeps only the best slice,
    thresholded per stratum so one high-scoring source can't crowd out
    the rest). Exact-count contract: rank by (score desc, id asc) — the
    id tiebreaker makes the order total and the selection deterministic
    — and keep rank <= ceil(frac * n_stratum), so every non-empty
    stratum keeps >= 1 doc; `frac` outside (0, 1] raises ValueError.
    Returns (stratum, id, score, rank, n_stratum).

    Scale: ONE shuffle on the stratum key feeding both window functions
    (rank and stratum size share the partitioning); no global sort, no
    driver-side threshold computation.
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"select_top_frac: frac must be in (0, 1], got {frac!r}")
    order = F.desc(score_col) if descending else F.asc(score_col)
    w_rank = Window.partitionBy(stratum_col).orderBy(order, F.asc(id_col))
    d = df.select(stratum_col, id_col, score_col)
    w_all = Window.partitionBy(stratum_col)
    keep = F.ceil(F.lit(float(frac)) * F.col("n_stratum")).cast("bigint")
    return (
        d.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .withColumn("n_stratum", F.count(F.lit(1)).over(w_all))
        .filter(F.col("rank") <= keep)
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    key_cols: tuple[str, ...] = ("source", "doc_id"),
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic training-order shuffle: tag every row with
    (shard, sort_key) where shard = pmod(hash(key), n_shards) and
    sort_key is the hash itself — a seedless pseudo-random permutation
    of the corpus into n_shards shards with a total within-shard order,
    reproducible run-to-run and engine-to-engine (hash_fn='md5': first
    15 md5 hex digits as a 60-bit int, bit-reproducible in DuckDB;
    engine default xxhash64 is the cheap JVM path). Include copy_idx in
    key_cols when sharding an apply_mixture output so repeated epochs of
    a doc land in different shards.

    Materialize with
      out.repartition(n_shards, "shard").sortWithinPartitions("shard",
      "sort_key").write.partitionBy("shard")...
    — one shuffle at write time; this operator itself is map-only
    (plan-asserted zero shuffle), so the tag can ride an existing scan.
    """
    key = F.concat_ws(":", *[F.col(c) for c in key_cols])
    if hash_fn == "md5":
        h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
    elif hash_fn == "xxhash64":
        h = F.xxhash64(key)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    return df.withColumn("sort_key", h).withColumn(
        "shard", F.pmod(F.col("sort_key"), F.lit(n_shards)).cast("int")
    )


def assign_splits(
    df: DataFrame,
    fracs: dict[str, float],
    id_col: str = "doc_id",
    source_col: str = "source",
    group_col: str | None = None,
) -> DataFrame:
    """Deterministic train/val/test split assignment: each row gets a
    `split` label drawn from `fracs` (normalized; insertion order fixes
    the cumulative bucket boundaries) by its md5 hash fraction — split =
    the first bucket whose cumulative upper bound exceeds the fraction.
    Seedless and engine-reproducible, so the same corpus always splits
    the same way.

    Leakage safety: pass group_col (e.g. the `component` label from
    dedup.neardup_components) and the hash is computed on the GROUP, so
    every member of a near-dup cluster lands in the same split — the
    standard guard against train/test contamination through near
    duplicates (a doc's paraphrase in train while the doc sits in test).
    Without group_col the hash key is source:id. A NULL group label
    hashes to a NULL fraction, which lands deterministically in the
    LAST bucket — give ungrouped rows their own label (e.g. the doc id)
    if they should scatter instead.

    Scale: map-only — one digest + a constant CASE chain per row, zero
    shuffle (plan-asserted); group mode assumes the group label column
    is already joined on (neardup_components output is an id→label
    relation, one broadcast or shuffle join upstream).
    """
    if not fracs:
        raise ValueError("fracs must be non-empty")
    tot = sum(fracs.values())
    names = list(fracs)
    bounds = []
    cum = 0.0
    for name in names[:-1]:
        cum += fracs[name] / tot
        bounds.append((name, cum))
    key = (
        F.col(group_col).cast("string")
        if group_col
        else F.concat_ws(":", F.col(source_col), F.col(id_col))
    )
    frac = _md5_frac(key)
    expr = None
    for name, upper in bounds:
        cond = frac < F.lit(upper)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", split)
