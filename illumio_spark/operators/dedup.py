"""Deduplication operators for training-data pipelines.

All hashing that must agree with the DuckDB oracle uses md5 (identical hex
in both engines); engine-internal fast paths (xxhash64) are used where no
cross-engine agreement is needed.

Scale notes:
  - exact dedup = hash-groupBy on the fingerprint — one shuffle, AQE
    handles skew on pathological identical-document corpora.
  - minhash = per-row array expressions (no shuffle); LSH banding turns
    near-dup search into an equi-join on band keys, avoiding the O(n²)
    cross join entirely — the 100 TB path.
  - ngram-jaccard ground truth explodes shingles (shuffle on shingle) —
    quadratic in the worst case; use it to validate minhash at small SF,
    never at full scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from illumio_spark.functions import repartition_by

N_MINHASH = 8
N_BANDS = 4  # rows per band = N_MINHASH / N_BANDS


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a whitespace-tokenized text column.

    Texts with fewer than k tokens yield an empty array (matches the
    DuckDB oracle's end-exclusive range()); the n >= k guard is required
    because sequence(1, 0) is the DESCENDING [1, 0] and element_at(toks, 0)
    throws under Spark 4's default ANSI mode."""
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(k)]
    )
    return F.array_distinct(F.transform(idx, shingle))


# md5 hex is always 32 lowercase hex chars, so this can never collide with
# a real fingerprint; NULL text must map to a JOINABLE key in the cross-run
# path — md5(NULL) is NULL, and NULL join keys never match in a left_anti,
# so a NULL-text doc would survive the seen-table check (and append a fresh
# NULL row) every single run (r6 ADVICE)
NULL_TEXT_FP = "null-text"


def fingerprint_exact(
    df: DataFrame, text_col: str = "text", null_sentinel: bool = False
) -> DataFrame:
    """Exact-dup fingerprint (md5) — the hash-groupBy dedup primitive.

    null_sentinel=True maps NULL text to the NULL_TEXT_FP constant so the
    fingerprint is usable as a join/state key (the cross-run dedup path);
    the default keeps md5's NULL-in-NULL-out for oracle parity."""
    fp = F.md5(F.col(text_col))
    if null_sentinel:
        fp = F.coalesce(fp, F.lit(NULL_TEXT_FP))
    return df.withColumn("fp", fp)


def minhash_signature(
    shingles: Column, n_hashes: int = N_MINHASH, hash_fn: str = "md5"
) -> list[Column]:
    """MinHash via min of salted hashes over the shingle set.

    hash_fn='md5' (default for the ORACLED queries): lexicographic min of
    md5 hex — both Spark and DuckDB compute it identically, so signatures
    are cross-engine-checkable.
    hash_fn='xxhash64' (the engine-internal default at scale): numeric min
    of salted xxhash64 longs — stays 8 bytes instead of a 32-char string
    through the whole band/join path and skips md5's digest cost (~2-3×
    cheaper signatures; pair outputs pytest-asserted identical to md5 on
    the golden corpus).

    NB: the per-salt lambda must stay single-parameter — pyspark binds a
    second parameter of a transform() lambda to the array index.

    Scale note: pass a pre-materialized shingles COLUMN (see
    minhash_signatures_df) when n_hashes > 1 — each mh_i embeds its own
    copy of the shingle expression tree, and higher-order functions run
    interpreted (no codegen, no subexpression elimination), so inlined
    shingles get rebuilt n_hashes times per row (measured 8× ≈ 45 s vs
    6 s on 5k docs)."""

    def salted(salt: str):
        if hash_fn == "xxhash64":
            return lambda s: F.xxhash64(F.lit(salt), s)
        return lambda s: F.md5(F.concat(F.lit(salt), s))

    return [
        F.array_min(F.transform(shingles, salted(f"s{i}-"))).alias(f"mh{i}")
        for i in range(n_hashes)
    ]


def exploded_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3,
    with_pos: bool = False,
) -> DataFrame:
    """(id, __s) — one row per k-word shingle, fully codegen (posexplode +
    window lead; see minhash_signatures_df's measured rationale for why
    this beats HOF array building ~10×). Null __s rows mark positions
    within k-1 of the end (and zero-token docs); filter or gate as the
    consumer needs. ONE shuffle on id.

    with_pos=True additionally returns __pos, the 0-based token offset of
    the shingle's first token — the span-locating input of
    verbatim_overlap_spans."""
    # Establish the window's hash(id) partitioning on the NARROW doc rows
    # BEFORE the explode (guide §2.3/§3.3: explode multiplies the shuffle;
    # shuffle first, explode after). This moves strictly fewer bytes at any
    # scale — one row per doc instead of one per token — and parallelizes
    # the tokenize/explode itself, which otherwise runs inside the scan
    # stage (a single task on compacted single-row-group inputs). The
    # window/groupBy downstream then needs NO further exchange.
    df = repartition_by(df, F.col(id_col))
    toks = df.select(
        id_col,
        F.posexplode_outer(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__pos", "__tok"),
    )
    if k == 1:
        cols = [id_col, F.col("__tok").alias("__s")]
        return toks.select(*(cols[:1] + ["__pos"] + cols[1:])) if with_pos else toks.select(*cols)
    w = Window.partitionBy(id_col).orderBy("__pos")
    leads = [F.lead("__tok", j).over(w) for j in range(1, k)]
    shingle = F.when(leads[-1].isNotNull(), F.concat_ws(" ", F.col("__tok"), *leads))
    if with_pos:
        return toks.select(id_col, "__pos", shingle.alias("__s"))
    return toks.select(id_col, shingle.alias("__s"))


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
) -> DataFrame:
    """Test-set decontamination: drop every training document sharing ANY
    k-word shingle with the evaluation corpus (the GPT-3-style 13-gram
    overlap rule). Returns the surviving training rows unchanged.

    Scale shape: both sides explode to (id, shingle) with the codegen
    window builder, shingles travel as 8-byte xxhash64 keys, the eval
    side collapses to DISTINCT hashes (tiny vs the training corpus —
    AQE broadcasts it), and contaminated ids come from one semi-join +
    one anti-join. Never materializes shingle arrays per row; documents
    shorter than k tokens cannot be contaminated, matching the rule."""
    t_sh = (
        exploded_shingles(train, id_col, text_col, k)
        .filter(F.col("__s").isNotNull())
        .select(id_col, F.xxhash64("__s").alias("__h"))
    )
    ev = eval_df.select(F.monotonically_increasing_id().alias("__eid"), F.col(text_col))
    e_sh = (
        exploded_shingles(ev, "__eid", text_col, k)
        .filter(F.col("__s").isNotNull())
        .select(F.xxhash64("__s").alias("__h"))
        .distinct()
    )
    contaminated = t_sh.join(e_sh, "__h", "left_semi").select(id_col).distinct()
    return train.join(contaminated, id_col, "left_anti")


def minhash_signatures_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, n_hashes: int = N_MINHASH, hash_fn: str = "md5",
) -> DataFrame:
    """(id, mh0..mh{n-1}) via posexplode → window lead → MIN aggregates.

    Two HOF traps avoided, both measured on this box (5k docs, sf0.1):
      - array_min(transform(shingles, h)) hashes in an INTERPRETED
        higher-order function (no codegen — the trap that cost simhash 14×
        before round 2);
      - even building the shingle ARRAY with transform(sequence)/element_at
        is interpreted and costs ~24 µs per shingle (6.2 s of the 7.2 s
        query was the shingle build alone).
    Instead: posexplode the raw token split (codegen), form each shingle
    with window lead() over (id, pos) — WindowExec is compiled JVM code —
    and take n_hashes MIN aggregates. MIN over the shingle MULTISET equals
    MIN over the distinct set, so skipping array_distinct changes nothing;
    the groupBy reuses the window's hash partitioning on `id`, so the whole
    thing costs ONE shuffle of (id, pos, token). Measured 6.2 s → 0.6 s
    (xxhash64) / 0.9 s (md5) for the signature stage.

    posexplode_outer keeps zero-token docs (null token → null shingle →
    null signature, same as array_min of an empty array); the trailing
    k-1 positions gate on the furthest lead being non-null."""
    sh = exploded_shingles(df, id_col, text_col, k)
    s = F.col("__s")
    if hash_fn == "xxhash64":
        # xxhash64 skips null inputs (would hash the salt alone) — gate it
        h = lambda i: F.when(s.isNotNull(), F.xxhash64(F.lit(f"s{i}-"), s))  # noqa: E731
    else:
        h = lambda i: F.md5(F.concat(F.lit(f"s{i}-"), s))  # concat(…, null) → null  # noqa: E731
    return sh.groupBy(id_col).agg(*[F.min(h(i)).alias(f"mh{i}") for i in range(n_hashes)])


def lsh_bands(
    n_hashes: int = N_MINHASH, n_bands: int = N_BANDS, hash_fn: str = "md5"
) -> list[Column]:
    """Band keys from rows of the signature (call after minhash_signature
    columns mh0..mh{n-1} exist). md5: hex of the concat (oracle-parity);
    xxhash64: one 8-byte long per band — smaller join keys, no string
    assembly."""
    rows_per_band = n_hashes // n_bands
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_fn == "xxhash64":
            bands.append(F.xxhash64(*cols).alias(f"band{b}"))
        else:
            bands.append(F.md5(F.concat_ws("|", *cols)).alias(f"band{b}"))
    return bands


def _band_stack(sigs: DataFrame, id_col: str) -> DataFrame:
    """Wide band0..bandN columns → long (id, band_idx, band_key) rows."""
    bands = [c for c in sigs.columns if c.startswith("band")]
    stack_expr = ", ".join(f"'{b}', {b}" for b in bands)
    return sigs.selectExpr(
        id_col, f"stack({len(bands)}, {stack_expr}) as (band_idx, band_key)"
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidate pairs: equi-join on any shared band key.

    Explodes to (id, band_idx, band_key), self-joins on the band key —
    the shuffle is on band keys (small), never an O(n²) cross join.
    """
    long = _band_stack(sigs, id_col)
    # materialize via an exchange: the self-join's two sides then share ONE
    # ReusedExchange instead of each recomputing the full signature tree
    long = repartition_by(long, "band_key")
    a = long.alias("a")
    b = long.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = N_MINHASH, n_bands: int = N_BANDS, hash_fn: str = "md5",
) -> DataFrame:
    """corpus → near-dup candidate pairs: shingle → minhash → band →
    bucket equi-join, end to end. hash_fn='md5' is the oracle-parity mode
    the driver checks; 'xxhash64' is the engine default at scale (8-byte
    keys, no digest/hex work) — pair outputs are pytest-asserted equal."""
    sigs = minhash_signatures_df(df, id_col, text_col, n_hashes=n_hashes, hash_fn=hash_fn)
    sigs = sigs.select(
        id_col,
        *[c for c in sigs.columns if c != id_col],
        *lsh_bands(n_hashes, n_bands, hash_fn=hash_fn),
    )
    return lsh_candidate_pairs(sigs, id_col)


def simhash_neardup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, hash_fn: str = "md5",
) -> DataFrame:
    """Banded simhash near-dup search: signature as 4×16-bit blocks,
    candidate pairs via equi-join on (block_idx, block_value) — pigeonhole
    guarantees every pair at hamming ≤ max_hamming (< 4 blocks differ)
    shares a block, so the output equals the all-pairs join without the
    O(n²) BroadcastNestedLoopJoin.

    r8 canonicalization (guide §8: decide with small rows): the banded
    self-join runs over DISTINCT signatures, not documents — template-
    heavy corpora put hundreds of identical-signature docs in one block
    bucket, and the doc-level join fanned out 153.8 M candidate rows at
    sf1.0 where the signature-level join sees a quadratically smaller
    bucket occupancy (50,030 docs → 33,052 distinct signatures there;
    the win grows with duplication). Doc pairs are then reconstructed
    exactly: qualifying signature pairs expand to their member cross
    products (each doc pair appears under exactly one signature pair),
    and identical-signature groups contribute their within-group pairs
    at hamming 0 (they share all four blocks, so the pigeonhole
    condition holds trivially). The dedup of multi-block collisions
    happens on signature pairs — a table ~duplication² smaller than the
    old doc-pair distinct. Output is identical row-for-row: (id_a <
    id_b, hamming), each pair exactly once."""
    import functools
    import operator

    from illumio_spark.functions.text import simhash_blocks_df

    # materialize the signature table ONCE: the group aggregate, the member
    # re-attach, and the banded self-join all read it — uncheckpointed,
    # each consumer re-executes the whole explode/bit-sum pipeline
    sigs = repartition_by(
        simhash_blocks_df(df, id_col, text_col, hash_fn=hash_fn), id_col
    ).localCheckpoint(eager=True)
    blocks = ["b0", "b1", "b2", "b3"]
    groups = sigs.groupBy(*blocks).agg(
        F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__n")
    )
    # members re-attach via the signature key; the groupBy and this join
    # share one exchange over the signature columns
    members = sigs.join(groups.select(*blocks, "__rep"), blocks).select(
        "__rep", F.col(id_col)
    )
    members = members.localCheckpoint(eager=True)
    long = groups.selectExpr(
        "__rep", "b0", "b1", "b2", "b3",
        "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) as (block_idx, block_val)",
    )
    long = repartition_by(long, "block_idx", "block_val")
    a, b = long.alias("a"), long.alias("b")
    hamming = functools.reduce(
        operator.add,
        [F.bit_count(F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}")).cast("long")) for k in range(4)],
    )
    sig_pairs = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.__rep") < F.col("b.__rep")),
        )
        .select(
            F.col("a.__rep").alias("__ra"),
            F.col("b.__rep").alias("__rb"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    ma = members.select(F.col("__rep").alias("__ra"), F.col(id_col).alias("__ia"))
    mb = members.select(F.col("__rep").alias("__rb"), F.col(id_col).alias("__ib"))
    cross = (
        sig_pairs.join(ma, "__ra")
        .join(mb, "__rb")
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "hamming",
        )
    )
    x, y = members.alias("x"), members.alias("y")
    within = (
        x.join(
            y,
            (F.col("x.__rep") == F.col("y.__rep"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(within)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard similarity via shingle explode + equi-join.

    Ground-truth validator for minhash/LSH at small SF (quadratic worst
    case — do not run at full scale)."""
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), k)).alias("sh")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def exact_dedup_keepers(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: keep min-id per fingerprint, report duplicate groups."""
    return (
        fingerprint_exact(df, text_col)
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Cross-run exact dedup — the reference's processed-keys resume
    pattern (S4, the anti-join against already-handled keys) applied to
    document content: a new batch is deduplicated BOTH against every
    fingerprint earlier runs recorded AND within itself (min-id keeper
    per text group). Returns (kept_docs, new_fps): append `new_fps` to
    the seen table after the batch commits and the next run's anti-join
    picks up the advanced frontier; the append is idempotent on fp, so
    a retried run cannot double-drop or double-keep.

    Scale: fingerprint is a map-side md5; the anti-join shuffles on the
    16-byte fp key (Catalyst broadcasts the seen side when it is small);
    the within-batch keeper is the same single hash-groupBy as
    exact_dedup_keepers. The seen table only ever stores 1 row per
    unique document ever processed — the minimal state for exact
    cross-run dedup. NULL text fingerprints to the NULL_TEXT_FP sentinel
    (md5(NULL) is NULL and NULL keys never anti-join-match, so without it
    a NULL-text doc would re-survive and re-append every run).
    """
    fp = fingerprint_exact(new_docs, text_col, null_sentinel=True)
    if seen_fps is not None:
        fp = fp.join(seen_fps.select("fp").distinct(), "fp", "left_anti")
    keepers = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    kept = fp.join(keepers.select(id_col), id_col, "left_semi").drop("fp")
    return kept, keepers.select("fp")


def band_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = N_MINHASH, n_bands: int = N_BANDS, hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band_idx, band_key) — the long-format LSH band table, i.e. the
    PERSISTABLE signature state for cross-run near-dup dedup: n_bands rows
    per document (8-byte keys in xxhash64 mode, 32-char md5 hex in oracle
    mode). Append each run's output to a parquet 'seen signatures' table
    and the next run band-joins its batch against it — near-duplication's
    equivalent of the exact-dedup fingerprint frontier."""
    sigs = minhash_signatures_df(
        df, id_col, text_col, n_hashes=n_hashes, hash_fn=hash_fn
    )
    sigs = sigs.select(id_col, *lsh_bands(n_hashes, n_bands, hash_fn=hash_fn))
    return _band_stack(sigs, id_col)


def incremental_neardup(
    new_docs: DataFrame,
    seen_bands: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    hash_fn: str = "xxhash64",
    max_iters: int = 20,
    report_seen_merges: bool = False,
) -> tuple[DataFrame, ...]:
    """Cross-run NEAR-dup dedup — the reference's processed-keys resume
    pattern (s3_manager.py:208-210,356-359: skip keys already handled by
    earlier runs) lifted from exact fingerprints to minhash-LSH
    signatures. A new batch's band table is equi-joined against the
    union of the seen table and itself, restricted to pairs with at
    least one NEW side (new-vs-all, never the quadratic all-vs-all over
    the full history); connected components run over just that induced
    subgraph; a new doc survives iff its component touches no seen doc
    AND it is the component's min-id representative (so within-batch
    near-dup groups keep exactly one member, and anything near a
    previously-processed doc drops — 'seen wins').

    Contract vs a combined single run (ids monotone across runs,
    pytest-asserted both ways): the incremental keeper set is a
    SUPERSET of the combined run's — every combined keeper is kept
    (a doc is only ever dropped against a genuinely smaller-id or
    already-seen connection, both of which the combined run also sees),
    and the sets are EQUAL unless a later batch contains a BRIDGE doc
    linking two earlier-emitted keepers that never collided directly
    (the combined run merges their components retroactively and drops
    the larger id; the incremental run has already emitted it and —
    like any streaming dedup — cannot retract output). Measured on the
    50.8 k-doc bench corpus: 4,539 incremental vs 4,492 combined
    keepers, all 47 extras verified to be such retroactive bridge
    merges. Pass report_seen_merges=True to receive those merge events
    as a third output for downstream compaction/retraction.

    Returns (kept_docs, new_bands) — or (kept_docs, new_bands,
    seen_merges) with report_seen_merges=True, where seen_merges is
    (component, id) rows over previously-seen docs this batch newly
    proved connected. Append new_bands — the bands of ALL processed
    docs, kept or not, so re-submissions of dropped content stay
    dropped — to the seen table after the batch commits; the append is
    idempotent on (id, band_idx).

    Scale shape: the batch's band table is checkpointed small, so AQE
    builds the bucket prefilter as a BroadcastHashJoin with the NEW
    side as the build (plan-verified at sf0.1: BuildLeft on the band
    keys) — the history-sized frontier STREAMS through one scan and is
    never shuffled; per-run cost is O(batch + collisions), not
    O(history). Buckets holding no new doc are semi-join-pruned before
    any edge forms (their members' components were already resolved by
    the runs that introduced them, and they cannot reach a new doc);
    within the surviving buckets CC gets STAR edges to the bucket min
    (_band_star_edges: M-1 edges, never the new×all pair fan-out) —
    every bucket member genuinely collides with every other, so stars
    preserve exactly the new-new connectivity and new-to-seen
    reachability the keep decision reads, at strictly fewer edges. CC
    runs on the batch-induced subgraph, not the full corpus graph.
    State is n_bands small rows per document ever processed — the
    near-dup analog of the minimal exact-dedup frontier."""
    new_bands = band_signatures(
        new_docs, id_col, text_col, n_hashes, n_bands, hash_fn
    )
    # materialize ONCE: the band table feeds the bucket prefilter, the
    # all-bands union, and the returned frontier append — without the
    # checkpoint each consumer re-runs the whole signature pipeline
    new_bands = new_bands.localCheckpoint(eager=True)
    if seen_bands is None:
        all_bands = new_bands
    else:
        seen_bands = seen_bands.select(id_col, "band_idx", "band_key")
        all_bands = new_bands.unionByName(seen_bands)
    new_keys = new_bands.select("band_idx", "band_key").distinct()
    touched = all_bands.join(new_keys, ["band_idx", "band_key"], "left_semi")
    # materialize the touched band rows (bounded by batch + collisions):
    # the star-edge self-aggregate-join over a lineage mixing a
    # checkpointed RDD with a union otherwise zips RDDs with mismatched
    # partition counts (re-confirmed r8: removing this checkpoint fails
    # the bridge-divergence pytest with 'Can't zip RDDs with unequal
    # numbers of partitions' even with the star exchange pinned). No
    # pre-distinct though (r8): band tables are distinct per
    # (id, band_idx) by construction, the star aggregate's MIN is
    # duplicate-tolerant, and _band_star_edges dedups its output — the
    # old defensive distinct cost one full shuffle of the touched set.
    touched = touched.localCheckpoint(eager=True)
    # materialize the star edges too (r8): they feed CC's edge table AND
    # appear twice in the node-list union — uncheckpointed, the final
    # label join re-executed the star aggregate twice (measured ~1.5 s
    # of the row's 9.6 s at sf1.0)
    pairs = _band_star_edges(touched, id_col).localCheckpoint(eager=True)
    new_ids = new_docs.select(id_col)
    nodes = (
        new_ids.unionByName(pairs.select(F.col("id_a").alias(id_col)))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    comp = neardup_components(nodes, pairs, id_col, max_iters=max_iters)
    if seen_bands is None:
        seen_comps = None
    else:
        seen_comps = (
            comp.join(seen_bands.select(id_col).distinct(), id_col, "left_semi")
            .select("component")
            .distinct()
        )
    keep = comp.join(new_ids, id_col, "left_semi").filter(
        F.col(id_col) == F.col("component")
    )
    if seen_comps is not None:
        keep = keep.join(seen_comps, "component", "left_anti")
    kept = new_docs.join(keep.select(id_col), id_col, "left_semi")
    if not report_seen_merges:
        return kept, new_bands
    # merge events: seen docs whose induced component holds >= 2 seen
    # members — they are now known connected. These are merge
    # CANDIDATES, not guaranteed-new information: star edges within a
    # touched bucket can link two seen docs directly (bucket min = a
    # seen doc), and such a pair was necessarily already same-component
    # when the later of them was processed; the frontier stores no
    # labels, so the caller dedupes candidates against its own
    # keeper/label state during compaction.
    if seen_bands is None:
        merges = comp.select("component", F.col(id_col)).filter(F.lit(False))
    else:
        seen_in_comp = comp.join(
            seen_bands.select(id_col).distinct(), id_col, "left_semi"
        ).select("component", F.col(id_col))
        multi = (
            seen_in_comp.groupBy("component")
            .count()
            .filter(F.col("count") >= 2)
            .select("component")
        )
        merges = seen_in_comp.join(multi, "component", "left_semi")
    return kept, new_bands, merges


def _band_star_edges(bands: DataFrame, id_col: str) -> DataFrame:
    """Connectivity-equivalent edge reduction for CC over an LSH band
    table: each (band_idx, band_key) bucket contributes a STAR to its
    minimum id — M-1 edges for an M-member bucket instead of the M²/2
    candidate pairs. Components are identical (bucket members all reach
    each other through the bucket min; every star edge is a genuine
    shared-band collision), but a 1,000-replica boilerplate group costs
    999 edges instead of ~500k, so the edge table is bounded by the band
    table itself (≤ n_bands rows per doc) — no quadratic fan-out at any
    corpus size. Use wherever only connectivity matters (CC-based
    keeper selection, frontier compaction), NOT as the user-facing
    candidate-pair list (minhash_lsh_pairs stays pairwise by design).
    Input must be pre-distinct on (id, band_idx, band_key)."""
    b = repartition_by(bands, "band_idx", "band_key")
    bucket_min = b.groupBy("band_idx", "band_key").agg(
        F.min(id_col).alias("__bmin")
    )
    return (
        b.join(bucket_min, ["band_idx", "band_key"])
        .filter(F.col(id_col) != F.col("__bmin"))
        .select(F.col("__bmin").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


def canonical_and_retractions(
    comp: DataFrame, emitted: DataFrame | None, id_col: str
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Shared compaction tail (text and embedding frontiers): CC labels
    → canonical keeper ids (id == component min); with `emitted`, also
    (id, component) retraction rows for emitted docs whose component
    gained a smaller keeper."""
    canonical = comp.filter(F.col(id_col) == F.col("component")).select(id_col)
    if emitted is None:
        return canonical
    retractions = (
        emitted.select(id_col)
        .join(comp, id_col)
        .filter(F.col(id_col) != F.col("component"))
        .select(id_col, "component")
    )
    return canonical, retractions


def compact_neardup_frontier(
    bands: DataFrame,
    emitted: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Periodic frontier compaction — the batch maintenance job that
    resolves the retroactive bridge merges an incremental/streaming
    near-dup run cannot (see incremental_neardup's contract): full
    connected components over the ENTIRE persisted band table, purely
    from signature state — the corpus text is never re-read or
    re-shingled, which is the point of persisting bands instead of
    fingerprints alone. The reference's TTL/compaction maintenance slot
    (s3_manager.py retention pass) applied to similarity state.

    Returns canonical keeper ids (min id of each global component). With
    `emitted` (the union of ids every prior run kept), also returns
    retractions — (id, component) rows for emitted docs whose global
    component now has a smaller keeper, i.e. exactly the docs downstream
    consumers should remove to converge the rolling corpus onto what one
    combined run would have kept. After compaction the frontier itself
    is already canonical (bands of dropped docs stay, by design — they
    must keep dropping resubmissions).

    Scale shape: deliberately O(history) in DOCUMENTS but never in
    pairs — CC needs connectivity, not the candidate-pair list, so each
    band bucket contributes a STAR to its minimum id (M-1 edges for an
    M-member bucket) instead of the M²/2 self-join pairs. Components
    are provably identical (every bucket member reaches every other
    through the bucket min; every star edge is a genuine shared-band
    collision), but a 1,000-replica boilerplate group costs 999 edges
    instead of ~500k — the edge table is bounded by the band table
    itself (≤ n_bands rows per doc). Measured at 508 k docs: the
    pairwise form feeds CC 32.8 M edges and runs ~3 min; the star form
    feeds it ≤ 2 M. One distinct + one groupBy + one equi-join back on
    the bucket key (ReusedExchange with the groupBy); CC by alternating
    large-/small-star contraction (neardup_components). No text, no minhashing, no all-pairs, no quadratic
    fan-out."""
    b = bands.select(id_col, "band_idx", "band_key").distinct()
    # materialize the deduped band table ONCE: the star-edge aggregate, the
    # node list, and CC's round-0 labels all read it — uncheckpointed, each
    # consumer re-executed the full upstream lineage (e.g. the signature
    # pipeline when called on fresh bands: measured 3× re-execution,
    # 16.1 s → 12.5 s at sf1.0 from this checkpoint alone)
    b = b.localCheckpoint(eager=True)
    pairs = _band_star_edges(b, id_col)
    nodes = b.select(id_col).distinct()
    comp = neardup_components(nodes, pairs, id_col, max_iters=max_iters)
    return canonical_and_retractions(comp, emitted, id_col)


def _star_phase(edges: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
    """One large-star (large=True) or small-star phase of the Kiveris et
    al. CC algorithm over a canonical (id_a < id_b) edge table.

    Each node v computes m = min(Γ(v) ∪ {v}) and re-links: large-star
    re-links its strictly-larger neighbors (plus v itself) to m,
    small-star its ≤-neighbors (plus v) — one groupBy + one join +
    one distinct, all keyed on node ids. Emitted edges are canonical by
    construction (m is the min of a set containing w).

    dedup=False skips the output distinct: the per-node MIN aggregate is
    duplicate-tolerant, so the loop runs the large-star phase without it
    and lets the following small-star phase's distinct re-dedup each
    round — one shuffle per round saved, no compounding (duplicates
    never survive a full round)."""
    sym = edges.select(
        F.col("id_a").alias("__v"), F.col("id_b").alias("__w")
    ).unionByName(
        edges.select(F.col("id_b").alias("__v"), F.col("id_a").alias("__w"))
    )
    mins = sym.groupBy("__v").agg(F.min("__w").alias("__mn"))
    mins = mins.select("__v", F.least("__v", "__mn").alias("__m"))
    # each edge (a, b), a < b, is re-linked from exactly one endpoint's
    # perspective (large-star: its smaller endpoint a, whose strictly-
    # larger neighbor it is; small-star: its larger endpoint b) — so the
    # join probes the HALF-SIZE canonical edge table, not the doubled
    # symmetric view. Emitted pairs are canonical by construction:
    # large-star m(a) ≤ a < b; small-star m(b) ≤ a because a ∈ Γ(b).
    if large:
        em_nb = (
            edges.join(mins, edges["id_a"] == mins["__v"])
            .filter(F.col("__m") != F.col("id_b"))
            .select(F.col("__m").alias("id_a"), F.col("id_b"))
        )
    else:
        em_nb = (
            edges.join(mins, edges["id_b"] == mins["__v"])
            .filter(F.col("__m") != F.col("id_a"))
            .select(F.col("__m").alias("id_a"), F.col("id_a").alias("id_b"))
        )
    em_self = mins.filter(F.col("__m") != F.col("__v")).select(
        F.col("__m").alias("id_a"), F.col("__v").alias("id_b")
    )
    out = em_nb.unionByName(em_self)
    return out.distinct() if dedup else out


def neardup_components(
    nodes: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-dup candidate pairs → (id,
    component) with component = MIN id reachable — the transitivity-
    correct form of near-dup dropping (keep one representative per
    component; dropping `id_b` of every pair over-keeps on chains like
    a-b, b-c only by accident of id ordering).

    Algorithm (r8): alternating large-star / small-star contraction
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") instead of min-label propagation with pointer jumping.
    The r1-r7 label-propagation loop was measured at 17 rounds on the
    sf1.0 bench graph (diameter ≥ 38): a label usually points at a
    LOCAL minimum that already believes itself a root, so pointer
    jumping shortcuts nothing and the global min crawls edge-by-edge —
    and each extra jump per round doubled the un-materialized hook
    subtree instead of helping. Star contraction rewrites the EDGES
    each phase (every node re-links its larger / its smaller-or-equal
    neighbors, plus itself, to its min neighbor), so the graph itself
    contracts toward min-centered stars: measured 6 rounds instead of
    17 on the same graph, 9.3 s → ~3 s for the CC stage, identical
    labels. Each phase is one groupBy + one join + one distinct, all
    id-keyed (never edge cross-products), with the edge table
    checkpointed per phase; the edge count is bounded by m + n per
    phase (each node adds at most its own re-link edge) and shrinks in
    practice — no quadratic fan-out at any scale.

    Convergence is detected EXACTLY, not probabilistically: the
    algorithm's fixpoint is a disjoint union of stars centered at
    component minima, which holds iff (a) every id_b appears exactly
    once and (b) no id appears as both a center (id_a) and a leaf
    (id_b). Both checks are cheap aggregates on the checkpointed edge
    table, and both operations preserve connectivity (every re-link
    targets a node's own neighbor), so a verified star state IS the
    true component decomposition. Labels then read off the stars: leaf
    → its center, everything else → itself.

    Duplicate pairs are tolerated (the first distinct normalizes).
    Raises RuntimeError if max_iters rounds (one large-star + one
    small-star each) pass without reaching the star state — truncated
    (split) components must never be returned silently."""
    edges = pairs.select(
        F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
        F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
    ).filter(F.col("id_a") != F.col("id_b"))
    # no up-front distinct: every star phase ends in one, so input
    # duplicates wash out after the first phase — the old pre-distinct
    # paid a full extra shuffle of the edge table. Materialize the edge
    # list ONCE: the phase loop iterates on it, and an un-checkpointed
    # `pairs` lineage (e.g. the whole minhash-LSH pipeline) would
    # otherwise re-execute per phase — measured 2× on the driver row
    # (r6); the GraphX equivalent is its mandatory edge cache. The lazy
    # checkpoint materializes under the isEmpty probe — one action.
    edges = edges.localCheckpoint(eager=False)
    converged = edges.isEmpty()
    for _ in range(max_iters):
        if converged:
            break
        # one eager checkpoint per phase: the small-star phase references
        # its input three times (two sym branches + the min aggregate),
        # so the large-star output must be MATERIALIZED, not merely
        # persist()ed — a lazy cache under one fused job lets concurrent
        # stages race past the unfilled cache and re-execute the phase
        # subtree (tried in r8: fusing both phases + the aggregate into
        # one action regressed the CC stage 4.1 s → 7.7 s)
        edges = _star_phase(edges, large=True, dedup=False).localCheckpoint(
            eager=True
        )
        edges = _star_phase(edges, large=False).localCheckpoint(eager=True)
        st = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("id_b")).alias("nb"),
        ).collect()[0]
        if st["n"] == 0:
            converged = True
        elif st["n"] == st["nb"]:
            # leaves are unique; star state iff additionally no center
            # is itself a leaf (checked only when the cheap test passes)
            converged = (
                edges.select("id_b")
                .join(
                    edges.select(F.col("id_a").alias("id_b")),
                    "id_b",
                    "left_semi",
                )
                .isEmpty()
            )
    if not converged:
        raise RuntimeError(
            f"neardup_components did not converge in {max_iters} iterations "
            "— component labels would be split; raise max_iters "
            "(star contraction needs O(log² n) rounds worst-case)"
        )
    lab = edges.select(F.col("id_b").alias(id_col), F.col("id_a").alias("__c"))
    labels = (
        nodes.select(F.col(id_col))
        .join(lab, id_col, "left")
        .select(
            id_col, F.coalesce(F.col("__c"), F.col(id_col)).alias("component")
        )
    )
    return labels.localCheckpoint(eager=True)


def neardup_keepers(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Corpus → rows surviving transitivity-correct near-dup removal:
    LSH band table → star edges per band bucket → connected components →
    keep the min-id representative of each component. Star edges (see
    _band_star_edges) give CC the identical components the pairwise
    candidate list induces, at M-1 instead of M²/2 edges per bucket —
    measured at 508 k docs (32.8 M pairwise edges): 109 s → 40 s."""
    bands = band_signatures(df, id_col, text_col, hash_fn=hash_fn)
    pairs = _band_star_edges(bands, id_col)
    comp = neardup_components(df.select(id_col), pairs, id_col)
    losers = comp.filter(F.col(id_col) != F.col("component")).select(id_col)
    return df.join(losers, id_col, "left_anti")


def verbatim_overlap_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 50, hash_fn: str = "xxhash64", max_doc_freq: int | None = None,
) -> DataFrame:
    """Intra-corpus exact-substring overlap: (id_a, id_b, n_shared) pairs
    of documents sharing at least one verbatim k-token window — the
    ExactSubstr dedup signal of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"), as an equi-self-join on hashed
    shingles instead of a suffix array (same pairs for window-level
    granularity; the suffix array additionally locates the span).

    Scale shape: shingles travel as 8-byte hashes; DISTINCT (id, hash)
    collapses within-doc repeats map-side; the self-join shuffles on the
    hash key, so only documents sharing a window ever meet, and the
    id_a < id_b filter halves the pair space. A boilerplate window shared
    by M docs fans out M² pairs — the honest cost of the EXACT signal.

    max_doc_freq is the standard stop-shingle mitigation: drop every
    window appearing in more than that many documents BEFORE the
    self-join (one groupBy on the 8-byte hash + one anti-join — linear
    work that caps the fan-out at max_doc_freq² per window). Ubiquitous
    windows are boilerplate (licenses, headers, templates), not the
    copying signal; a license shared by 1M docs must never fan out 10¹²
    pairs. None = exact, uncapped (the oracle mode)."""
    sh = exploded_shingles(df, id_col, text_col, k).filter(F.col("__s").isNotNull())
    if hash_fn == "md5":
        key = F.md5(F.col("__s"))
    else:
        key = F.xxhash64(F.col("__s"))
    sh = sh.select(F.col(id_col), key.alias("__h")).distinct()
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("__h")
        )
        sh = sh.join(hot, "__h", "left_anti")
    a = sh.select(F.col(id_col).alias("id_a"), "__h")
    b = sh.select(F.col(id_col).alias("id_b"), "__h")
    return (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def verbatim_overlap_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 50, hash_fn: str = "xxhash64", min_windows: int = 1,
) -> DataFrame:
    """Span-locating ExactSubstr (VERDICT r5 task 3): where
    verbatim_overlap_pairs reports WHICH documents share a verbatim
    k-token window, this reports WHERE — (id_a, id_b, pos_a, pos_b,
    n_windows, span_tokens) per maximal shared run, the output that lets
    a user CUT the duplicated span instead of dropping a whole document
    (the actual Lee et al. 2022 suffix-array remediation).

    Method: keep the 0-based token offset through the hashed-shingle
    self-join, then group consecutive matches along each alignment
    diagonal (pos_a - pos_b) with the classic gap-and-islands window
    (pos_a - row_number), so a shared run of n_windows consecutive
    k-shingles collapses to one row spanning n_windows + k - 1 tokens.

    Scale shape: identical join/shuffle profile to verbatim_overlap_pairs
    (8-byte hash keys, only sharing docs ever meet) plus one window over
    (id_a, id_b, diag) — keys are pair-scoped, so partitions stay small
    even when one boilerplate window is shared by M docs (the M² pair
    fan-out is the signal's honest cost; mitigate upstream by dropping
    ubiquitous shingles). Within-doc repeats are kept (NO distinct):
    every (pos_a, pos_b) alignment of a repeated shingle is a genuine
    candidate diagonal."""
    sh = exploded_shingles(df, id_col, text_col, k, with_pos=True).filter(
        F.col("__s").isNotNull()
    )
    key = F.md5(F.col("__s")) if hash_fn == "md5" else F.xxhash64(F.col("__s"))
    sh = sh.select(F.col(id_col), F.col("__pos").alias("__p"), key.alias("__h"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__p").alias("pos_a"), "__h")
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__p").alias("pos_b"), "__h")
    m = a.join(b, "__h").filter(F.col("id_a") < F.col("id_b"))
    diag = (F.col("pos_a") - F.col("pos_b")).alias("__diag")
    w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("pos_a")
    runs = (
        m.select("id_a", "id_b", "pos_a", "pos_b", diag)
        .withColumn("__isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "__diag", "__isl")
        .agg(
            F.min("pos_a").alias("pos_a"),
            F.min("pos_b").alias("pos_b"),
            F.count(F.lit(1)).alias("n_windows"),
        )
    )
    return runs.filter(F.col("n_windows") >= min_windows).select(
        "id_a", "id_b", "pos_a", "pos_b", "n_windows",
        (F.col("n_windows") + F.lit(k - 1)).cast("bigint").alias("span_tokens"),
    )


def cut_verbatim_spans(
    df: DataFrame, spans: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", min_span_tokens: int = 50,
) -> DataFrame:
    """Apply the Lee et al. 2022 ExactSubstr REMEDIATION: given the output
    of verbatim_overlap_spans, remove each duplicated span from the
    HIGHER-id document of its pair (the lower id keeps one canonical
    copy), leaving the rest of the document intact — the alternative to
    dropping whole documents that contain one shared block.

    Plan, all codegen DataFrame ops:
      1. spans → per-doc cut intervals [pos_b, pos_b + span_tokens) on the
         id_b side, keeping only runs >= min_span_tokens (cut only real
         duplication, not chance k-gram hits);
      2. merge overlapping/adjacent intervals per doc (gap-and-islands:
         running max of interval end over a pos-ordered window);
      3. tokenize affected docs, posexplode, range anti-condition against
         the doc's merged intervals, rebuild text in token order.
    Shuffle keys are doc ids throughout; untouched docs pass through
    without explode cost (left_anti split). Whitespace is normalized to
    single spaces in REBUILT docs only (tokenization is whitespace-based,
    same as the detector's)."""
    iv = (
        spans.filter(F.col("span_tokens") >= min_span_tokens)
        .select(
            F.col("id_b").alias(id_col),
            F.col("pos_b").alias("__start"),
            (F.col("pos_b") + F.col("span_tokens")).alias("__end"),
        )
        .distinct()
    )
    w_ord = Window.partitionBy(id_col).orderBy("__start", "__end")
    run_end = F.max("__end").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        iv.withColumn(
            "__new_island",
            F.when(
                run_end.isNull() | (F.col("__start") > run_end), 1
            ).otherwise(0),
        )
        .withColumn(
            "__isl",
            F.sum("__new_island").over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "__isl")
        .agg(F.min("__start").alias("__start"), F.max("__end").alias("__end"))
    )
    cuts = merged.groupBy(id_col).agg(
        F.collect_list(F.struct("__start", "__end")).alias("__cuts")
    )
    affected = df.join(cuts, id_col, "inner")
    untouched = df.join(cuts.select(id_col), id_col, "left_anti")
    # hash(id)-partition the affected docs before the explode (r8): the
    # rebuild groupBy is id-keyed, so this replaces its token-level
    # exchange with a doc-level one and parallelizes the tokenize (the
    # cuts join is typically broadcast, leaving the one-task scan's
    # partitioning in place otherwise)
    affected = repartition_by(affected, F.col(id_col))
    toks = affected.select(
        id_col,
        "__cuts",
        *[c for c in df.columns if c not in (id_col, text_col)],
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__pos", "__tok"),
    )
    keep = toks.filter(
        ~F.exists(
            "__cuts",
            lambda c: (F.col("__pos") >= c["__start"]) & (F.col("__pos") < c["__end"]),
        )
    )
    passthru = [c for c in df.columns if c not in (id_col, text_col)]
    rebuilt = keep.groupBy(id_col, *passthru).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
        ).alias(text_col)
    )
    return untouched.unionByName(rebuilt.select(*df.columns))
