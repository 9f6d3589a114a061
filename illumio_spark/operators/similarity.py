"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline; LSH-bucketed
(random hyperplane signs) as the scale path — bucket join instead of the
O(n·q) cross join. Dot products run JVM-side via zip_with/aggregate in
double precision (bit-identical to the DuckDB oracle's sequential sum).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from illumio_spark.functions import parallelize_scan, repartition_by

LSH_SEED = 42


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(vec) -> "F.Column":
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, v: acc + v * v))


def _score_fn(score: str):
    """expr|pandas mode select — unknown strings RAISE instead of
    silently running the expression path (a typo'd engine-mode knob must
    not masquerade as a measurement of the fast path)."""
    if score == "pandas":
        return cosine_pandas
    if score == "expr":
        return cosine
    raise ValueError(f"unknown score mode {score!r}: use 'expr' or 'pandas'")


def cosine(a, b):
    # try_divide: a zero-norm vector yields NULL similarity instead of a
    # DIVIDE_BY_ZERO abort under Spark 4's default ANSI mode
    return F.try_divide(_dot(a, b), l2_norm(a) * l2_norm(b))


# no signature type hints: pandas_udf's hint inference cannot resolve
# string annotations here (same constraint as lsh_bucket_pandas)
def _cosine_batch(va, vb):
    """cosine_pandas's Arrow batch: row-wise cosine of two vector Series.

    NULL / ragged guard (r8, ADVICE r7): the expression cosine yields NULL
    for a NULL vector and for mismatched lengths (zip_with); the numpy
    conversion would instead raise inside the UDF. Any value that is not
    a vector (None, a float NaN) takes the NULL path, as does a length
    mismatch. Score only the valid rows, NULL the rest."""
    import pandas as pd

    def length(x):
        return len(x) if isinstance(x, (list, tuple, np.ndarray)) else -1

    la = va.map(length).to_numpy()
    lb = vb.map(length).to_numpy()
    valid = (la >= 0) & (la == lb)
    result = pd.Series([None] * len(va), dtype="object")
    if valid.any():
        for L, idx in pd.Series(range(len(va)))[valid].groupby(la[valid]):
            rows = idx.to_numpy()
            A = np.array(va.iloc[rows].tolist(), dtype=np.float64)
            B = np.array(vb.iloc[rows].tolist(), dtype=np.float64)
            num = (A * B).sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                out = num / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))
            # non-finite → NULL, not NaN: Spark sorts NaN FIRST under
            # desc() (measured: [NaN, 0.5, NULL]), so a NaN cosine
            # would rank a zero-norm vector as every query's top
            # neighbor while try_divide's NULL correctly sorts last
            vals = pd.Series(out, dtype="object").where(np.isfinite(out), None)
            result.iloc[rows] = vals.to_numpy()
    return result


def cosine_pandas(a, b) -> "F.Column":
    """Arrow-batched row-wise cosine — the engine-default alternative to
    the `cosine` expression when a column of already-materialized
    (vector, vector) rows must be scored: F.aggregate/zip_with execute
    INTERPRETED per element, one numpy batch does the same math in C.
    Float64 like the expression form, but numpy's summation order
    differs from the left-fold, so oracle-parity paths (DuckDB
    list_cosine_similarity reproduces the fold) keep `cosine`.
    Zero-norm vectors yield NULL (non-finite outputs are mapped to None
    in-UDF), exactly matching try_divide's NULL — NOT NaN, which Spark
    would sort FIRST under desc() and crown a zero vector every
    query's nearest neighbor.

    Regime (measured, BENCH/NOTES.md r7): decisive when the scored row
    volume is large (the per-bucket matmul cousin at 200 k vectors:
    54×), a wash-to-modest-win at small volumes (sf0.1 IVF row:
    ~1.1-1.2×), and a LOSS where one extra Python-worker stage meets
    few rows at high dim (768-dim ANN bench, ~50 k candidates: IVF
    2.9 s expr vs 4.1 s pandas). Both modes stay available for exactly
    this reason."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(_cosine_batch, T.DoubleType())(a, b)


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    The query side is broadcast (small by construction); the corpus is
    scanned once — at 100 TB this is one map-side pass per query batch,
    then a top-k per query (window over a small shuffled slice)."""
    e = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    # parallelize the broadcast-nested-loop scoring off the one-task scan
    # (r8): without an exchange the q×n cosine grid runs inside the scan
    # stage on a single core for single-row-group inputs
    e = parallelize_scan(e, F.col(id_col))
    qn = queries.select(F.col(qid_col), F.col(qvec_col).cast("array<double>").alias("qv"))
    scored = (
        e.join(F.broadcast(qn), F.col(id_col) != F.col(qid_col))
        .withColumn("cos", cosine(F.col("v"), F.col("qv")))
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(qid_col), F.col(id_col).alias("neighbor_id"), F.col("rank"))
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = LSH_SEED) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((n_planes, dim))


# above this many plane literals (n_planes × dim), switch the bucket
# assignment from JVM fold expressions to one Arrow-batched numpy matmul —
# giant literal expression trees bloat the plan/codegen, while a (batch ×
# dim) @ (dim × planes) matmul ships the planes once per worker
LSH_LITERAL_BUDGET = 4096


def lsh_bucket_column(vec, n_planes: int, dim: int, seed: int) -> "F.Column":
    """Random-hyperplane LSH: sign pattern of <v, p_i> → integer bucket.

    Small plane sets are embedded as literal arrays (pure JVM fold, zero
    Python); large ones (real embedding dims × many planes) go through
    lsh_bucket_pandas — a vectorized matmul with the planes captured in the
    UDF closure (broadcast once per worker)."""
    if n_planes * dim > LSH_LITERAL_BUDGET:
        return lsh_bucket_pandas(vec, n_planes, dim, seed)
    planes = hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(vec, plane) > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def lsh_bucket_pandas(vec, n_planes: int, dim: int, seed: int) -> "F.Column":
    """Bucket assignment as ONE numpy matmul per Arrow batch: signs of
    (batch × dim) @ planes.T, packed to an integer via bit weights."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    planes_t = hyperplanes(dim, n_planes, seed).T  # (dim, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def _bucket(v):
        mat = np.asarray(v.tolist(), dtype=np.float64)  # (batch, dim)
        bits = (mat @ planes_t) > 0  # (batch, n_planes)
        return pd.Series(bits @ weights)

    # non-decorator form: `from __future__ import annotations` stringifies
    # type hints, which pandas_udf's hint inference can't resolve here
    return pandas_udf(_bucket, T.LongType())(vec)


def lsh_buckets_pandas_multi(vec, n_planes: int, dim: int, seeds: list[int]) -> "F.Column":
    """ALL tables' buckets in ONE Arrow round: (batch × dim) @ (dim ×
    planes·tables) matmul, sign bits packed per table → array<long>.

    Identical buckets to per-table lsh_bucket_column (same seeded planes,
    sign test on the same doubles — pytest-asserted); used when the
    combined literal plan would be huge (tables × planes × dim expression
    nodes slow analysis/codegen far more than one vectorized UDF)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    stacked = np.concatenate([hyperplanes(dim, n_planes, s) for s in seeds]).T  # (dim, P·L)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def _buckets(v):
        mat = np.asarray(v.tolist(), dtype=np.float64)  # (batch, dim)
        bits = (mat @ stacked) > 0  # (batch, P·L)
        per_table = bits.reshape(len(mat), len(seeds), n_planes) @ weights  # (batch, L)
        return pd.Series(list(per_table))

    return pandas_udf(_buckets, T.ArrayType(T.LongType()))(vec)


def _bucketed_long(df: DataFrame, id_alias: str, vec_alias: str,
                   n_planes: int, dim: int, n_tables: int) -> DataFrame:
    """(id, vec) → exploded (id, vec, table_idx, bucket) over L hash tables.

    Repartitions the (id, vec) rows first (r8): bucket assignment — the
    plane matmul or the literal fold — otherwise runs inside the scan
    stage, which is ONE task on compacted single-row-group inputs; a
    narrow pre-explode shuffle parallelizes it and moves one row per
    vector instead of one per (vector, table)."""
    df = parallelize_scan(df, F.col(id_alias))
    v = F.col(vec_alias)
    if n_tables * n_planes * dim > LSH_LITERAL_BUDGET:
        buckets = lsh_buckets_pandas_multi(
            v, n_planes, dim, [LSH_SEED + t for t in range(n_tables)]
        )
    else:
        buckets = F.array(
            *[lsh_bucket_column(v, n_planes, dim, LSH_SEED + t) for t in range(n_tables)]
        )
    return df.select(
        id_alias, vec_alias, F.posexplode(buckets).alias("tbl", "bucket")
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 3,
    broadcast_vectors: bool = False,
    score: str = "expr",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.
    score='expr'|'pandas' — same re-rank dual-path as ivf_topk: the
    expression form is what the pytest oracle reproduces, the
    Arrow-batched numpy form is the engine default at real dims (at
    dim 768 the interpreted aggregate walks 768 elements per row).

    OR-construction over L independent hash tables fixes the single-probe
    boundary miss (a vector near a hyperplane flips sign under tiny
    perturbation); candidates = equi-join on (table, bucket) — never a
    cross join. Recall knobs: fewer planes → bigger buckets; more tables →
    more probes. This is the 100 TB path: bucket assignment is a map-only
    pass, the join shuffles only on compact bucket keys.

    Shuffle-weight discipline (measured 2.8 s → sub-second on the near-dup
    sibling): the candidate join and its dedup move ONLY id pairs — never
    the vectors, which at real dims dominate the pair rows ~60:1. Vectors
    re-attach afterwards by plain equi-joins on the ids (auto-broadcast
    when the side is small; a linear shuffle otherwise), so the exact
    cosine runs once per deduped candidate.

    ``broadcast_vectors`` hints the corpus re-attach join for broadcast:
    set it only when the corpus is known to fit in executor memory
    (Catalyst misestimates array-column sizes and may pick a sort-merge
    join that measured 2× slower at small scale). Default False — the
    100 TB-safe path — lets AQE pick the strategy from runtime sizes;
    the query side, genuinely small, is always broadcast."""
    ev = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    qv = queries.select(F.col(qid_col), F.col(qvec_col).cast("array<double>").alias("qv"))
    e = _bucketed_long(ev, id_col, "v", n_planes, dim, n_tables).select(id_col, "tbl", "bucket")
    qn = (
        _bucketed_long(qv, qid_col, "qv", n_planes, dim, n_tables)
        .select(qid_col, "tbl", "bucket")
        .withColumnRenamed("tbl", "q_tbl")
        .withColumnRenamed("bucket", "q_bucket")
    )
    cand_ids = (
        e.join(
            F.broadcast(qn),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col(id_col) != F.col(qid_col)),
        )
        .select(qid_col, id_col)
        .dropDuplicates([qid_col, id_col])
    )
    evr = F.broadcast(ev) if broadcast_vectors else ev
    candidates = cand_ids.join(evr, id_col).join(F.broadcast(qv), qid_col)
    score_fn = _score_fn(score)
    scored = candidates.withColumn("cos", score_fn(F.col("v"), F.col("qv")))
    w = Window.partitionBy(qid_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(qid_col), F.col(id_col).alias("neighbor_id"), F.col("rank"))
    )


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    threshold: float = 0.9,
    n_planes: int = 4,
    dim: int = 64,
    n_tables: int = 3,
    broadcast_vectors: bool = False,
    verify: str = "expr",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (never O(n²)).

    verify='expr' (default, the oracle-parity mode): candidates come
    from the multi-table (table, bucket) self-equi-join of id rows ONLY
    — the measured bottleneck of the naive version was dragging two
    dim-sized arrays per pair through the join + dedup (2.8 s → 0.9 s at
    sf0.1 for the same output). Vectors re-attach via two equi-joins on
    the ids (auto-broadcast when small), then the exact cosine ≥
    threshold verifies each deduped candidate once — as a JVM expression
    whose float summation order DuckDB's list_cosine_similarity
    reproduces.

    verify='matmul' (the engine default at scale, same dual-path
    discipline as hash_fn md5/xxhash64): candidates and verify run as
    one per-bucket blocked numpy matmul (bucket_verified_pairs) — each
    vector crosses Arrow once per bucket membership instead of once per
    candidate pair, and the cosine costs a C matmul instead of an
    interpreted aggregate expression (54× at 200 k vectors,
    BENCH/compact_embedding.json). Pair-set equality between the modes
    is pytest-asserted; only float ties exactly AT the threshold could
    ever differ (summation order), which is why the oracle row stays on
    'expr'."""
    if verify not in ("expr", "matmul"):
        raise ValueError(
            f"unknown verify mode {verify!r}: use 'expr' or 'matmul'"
        )
    ev = df.select(F.col(id_col), F.col(vec_col).alias("__v"))
    if verify == "matmul":
        bv = _bucketed_long(ev, id_col, "__v", n_planes, dim, n_tables).select(
            id_col, "tbl", "bucket", "__v"
        )
        return bucket_verified_pairs(
            bv, id_col=id_col, vec_col="__v", threshold=threshold
        )
    # repartition on the join key: the self-join's two sides then share ONE
    # ReusedExchange instead of each recomputing the bucket expressions
    eb = (
        _bucketed_long(ev, id_col, "__v", n_planes, dim, n_tables)
        .select(id_col, "tbl", "bucket")
        .repartition("tbl", "bucket")
    )
    a, b = eb.alias("a"), eb.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # broadcast_vectors=True hints the vector re-attach joins for broadcast:
    # Catalyst misestimates array column sizes and may sort-merge-join the
    # pairs twice (measured 2× slower than even the naive vector-carrying
    # join at small scale) — but an unconditional hint would OOM on a
    # corpus that doesn't fit in executor memory, so the 100 TB-safe
    # default is False and AQE picks the strategy from runtime sizes.
    def _maybe_b(d):
        return F.broadcast(d) if broadcast_vectors else d

    va = _maybe_b(ev.select(F.col(id_col).alias("id_a"), F.col("__v").alias("va")))
    vb = _maybe_b(ev.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vb")))
    return (
        cand_ids.join(va, "id_a")
        .join(vb, "id_b")
        .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
        .select("id_a", "id_b")
    )


def incremental_embedding_neardup(
    new_df: DataFrame,
    seen_buckets: DataFrame | None,
    seen_vecs: DataFrame | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 4,
    dim: int = 64,
    n_tables: int = 3,
    max_iters: int = 20,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cross-run EMBEDDING near-dup dedup — the processed-keys resume
    pattern (reference s3_manager.py:208-210) on the similarity family,
    completing the frontier trio: exact fingerprints
    (dedup.incremental_dedup), minhash-LSH text signatures
    (dedup.incremental_neardup), and now embedding-cosine.

    State is TWO tables, both append-only after each run commits:
      seen_buckets (id, tbl, bucket) — the multi-table hyperplane-LSH
        assignments, n_tables small rows per doc (the join frontier);
      seen_vecs (id, vec) — needed because embedding near-dup, unlike
        minhash, VERIFIES candidates with an exact cosine: a new-vs-seen
        candidate pair must re-attach the seen vector.
    Returns (kept_new_docs, new_buckets, new_vecs); append the latter
    two after the batch's output commits (idempotent on id).

    Decision mirrors incremental_neardup: candidates = (tbl, bucket)
    equi-join of the new batch against seen+new (>= 1 new side, never
    the all-vs-all of history); pairs verified at cosine >= threshold;
    connected components over the verified edges (transitivity-correct);
    a new doc survives iff its component touches no seen doc and it is
    the component's min-id member — 'seen wins'. Bucket assignment is
    seed-deterministic, so a vector's buckets are identical in every
    run — cross-run candidates equal combined-run candidates exactly.

    Contract vs a combined single run (ids monotone, pytest-asserted
    both ways, same as dedup.incremental_neardup): the incremental
    keeper set is a SUPERSET of the combined run's, equal unless a
    later batch holds a BRIDGE vector within `threshold` of two
    earlier-emitted keepers that aren't within threshold of each other
    — the combined run merges their components retroactively; emitted
    output can't be retracted. compact_embedding_frontier is the
    periodic maintenance job that resolves those merges.

    Scale shape: buckets holding no new doc are semi-join-pruned before
    any vector moves, so per-run cost is O(batch + collisions), never
    O(history); candidate generation + exact verify run as ONE
    per-bucket blocked numpy matmul (bucket_verified_pairs, new-vs-all
    mask) — each touched vector crosses Arrow once per bucket
    membership instead of once per candidate pair; CC runs on the
    batch-induced subgraph."""
    from illumio_spark.operators.dedup import neardup_components

    ev = new_df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    nb = _bucketed_long(ev, id_col, "__v", n_planes, dim, n_tables).select(
        id_col, "tbl", "bucket"
    )
    # materialize ONCE: probe side of the join, the all-buckets union,
    # and the returned frontier append all read it
    nb = nb.localCheckpoint(eager=True)
    if seen_buckets is None:
        all_b = nb
    else:
        all_b = nb.unionByName(
            seen_buckets.select(id_col, "tbl", "bucket")
        )
    if seen_vecs is None:
        all_v = ev
    else:
        all_v = ev.unionByName(
            seen_vecs.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
            )
        )
    # candidates + verify as ONE per-bucket blocked matmul (new rows ×
    # all rows), restricted to buckets holding at least one new doc —
    # the join-then-verify form materializes every candidate pair with
    # both vector payloads and runs the cosine as an interpreted
    # aggregate expression (measured 54× slower at 200k vectors,
    # BENCH/compact_embedding.json)
    new_keys = nb.select("tbl", "bucket").distinct()
    new_flag = nb.select(id_col).distinct().withColumn("__new", F.lit(True))
    bv = (
        all_b.join(new_keys, ["tbl", "bucket"], "left_semi")
        .join(all_v, id_col)
        .join(new_flag, id_col, "left")
        .withColumn("__new", F.coalesce(F.col("__new"), F.lit(False)))
    )
    verified = bucket_verified_pairs(
        bv, id_col=id_col, vec_col="__v", threshold=threshold,
        probe_col="__new",
    )
    # bounded by batch collisions; nodes, CC's edge table, and the keep
    # joins all read it — same single-execution discipline as the text
    # path's touched-bands checkpoint
    verified = verified.localCheckpoint(eager=True)
    new_ids = new_df.select(id_col)
    nodes = (
        new_ids.unionByName(verified.select(F.col("id_a").alias(id_col)))
        .unionByName(verified.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    comp = neardup_components(nodes, verified, id_col, max_iters=max_iters)
    keep = comp.join(new_ids, id_col, "left_semi").filter(
        F.col(id_col) == F.col("component")
    )
    if seen_buckets is not None:
        seen_comps = (
            comp.join(
                seen_buckets.select(id_col).distinct(), id_col, "left_semi"
            )
            .select("component")
            .distinct()
        )
        keep = keep.join(seen_comps, "component", "left_anti")
    kept = new_df.join(keep.select(id_col), id_col, "left_semi")
    return kept, nb, new_df.select(id_col, vec_col)


def bucket_verified_pairs(
    bucketed: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "__v",
    threshold: float = 0.9,
    block: int = 1024,
    probe_col: str | None = None,
    hot_bucket_rows: int = 200_000,
) -> DataFrame:
    """(tbl, bucket, id, vec) rows → exact-cosine-verified candidate
    pairs (id_a < id_b), computed per bucket with a BLOCKED numpy
    matmul inside applyInPandas instead of materializing the pairwise
    join. Why: a bucket of M members implies M²/2 candidate pairs, and
    the join-then-verify form ships both vectors with EVERY pair (~1 KB
    per pair at dim 64) through an interpreted aggregate/zip_with
    cosine; this form moves each vector once per bucket through Arrow
    and verifies with C-speed matmul. Row blocks of `block` bound the
    in-UDF matrix at block×M. Zero-norm vectors normalize to NaN and
    never pass the >= threshold comparison — same outcome as the
    expression form's try_divide NULL. Cross-table duplicate pairs are
    distinct-ed here. Requires an integral id column (the pair schema
    and the numpy min/max are typed); use the expression paths for
    string ids.

    probe_col (boolean column) restricts the matmul's ROW side to
    flagged members — the new-vs-all shape of the incremental frontier:
    probe × all instead of all × all, emitting exactly the >=1-probe
    pairs. Without it, the full upper triangle.

    Hot-bucket guard: a pandas group materializes ALL of a bucket's
    vectors in one worker (M × dim × 8 bytes — 20 M degenerate members
    at dim 64 would be ~10 GB), so buckets over `hot_bucket_rows` rows
    are split off to the DISTRIBUTED join-then-verify path (expression
    cosine, spills instead of OOMs; quadratic work is intrinsic to a
    hot bucket either way — the real mitigation is the LSH design,
    more planes/doc-freq capping, same class as verbatim's
    stop-shingles). The size split costs one count aggregate over the
    band rows. The per-block sims matrix is additionally bounded by
    `target_cells` (r8, ADVICE r7): `block` shrinks so block×M stays
    ≤ target_cells (~128 MB of float64 at the default) — a bucket just
    under hot_bucket_rows could otherwise allocate block×M ≈ 1.6 GB in
    one worker. Identical pairs (row-block partitioning cannot change
    the pair set; pinned by the existing block<bucket pytest).

    NULL / ragged vectors (r8, ADVICE r7): rows with a NULL vector are
    dropped and the matmul runs per distinct vector LENGTH — a
    mixed-length pair scores NULL under the expression cosine
    (zip_with) and never passes the threshold, so grouping by length
    reproduces exactly the 'expr' semantics instead of raising
    ValueError inside the UDF."""
    from collections.abc import Iterator  # noqa: F401

    import pandas as pd

    id_dt = dict(bucketed.dtypes)[id_col]
    if id_dt not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"bucket_verified_pairs needs an integral id column, got "
            f"{id_col}: {id_dt}; use verify/score='expr' paths for "
            f"non-integral ids"
        )
    empty = {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64")}
    cols = ["tbl", "bucket", id_col, vec_col] + (
        [probe_col] if probe_col else []
    )
    target_cells = 16_000_000  # ≈128 MB float64 per in-flight sims block

    def one_group(pdf: "pd.DataFrame", out_a: list, out_b: list) -> None:
        n = len(pdf)
        if n < 2:
            return
        ids = pdf[id_col].to_numpy()
        V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(V, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            U = V / norms[:, None]
        if probe_col is None:
            P, pids, triangle = U, ids, True
        else:
            mask = pdf[probe_col].to_numpy().astype(bool)
            if not mask.any():
                return
            P, pids, triangle = U[mask], ids[mask], False
        blk = max(1, min(block, target_cells // max(n, 1)))
        for s in range(0, len(P), blk):
            sims = P[s : s + blk] @ U.T
            with np.errstate(invalid="ignore"):
                ii, jj = np.nonzero(sims >= threshold)
            ia, ib = pids[ii + s], ids[jj]
            keep = (ia < ib) if triangle else (ia != ib)
            if keep.any():
                out_a.append(np.minimum(ia[keep], ib[keep]))
                out_b.append(np.maximum(ia[keep], ib[keep]))

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf[pdf[vec_col].notna()]
        if len(pdf) < 2:
            return pd.DataFrame(empty)
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        lens = pdf[vec_col].map(len)
        if lens.nunique() == 1:
            one_group(pdf, out_a, out_b)
        else:
            for _L, sub in pdf.groupby(lens):
                one_group(sub, out_a, out_b)
        if not out_a:
            return pd.DataFrame(empty)
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b)})

    # materialize ONCE: the size split (anti + semi), the pandas groups,
    # and the hot join all traverse this frame — uncheckpointed, each
    # consumer re-executes the caller's bucket/vector join tree
    # (measured ~4 extra executions per incremental call)
    b = bucketed.select(*cols).localCheckpoint(eager=True)
    sizes = b.groupBy("tbl", "bucket").agg(F.count("*").alias("__bn"))
    hot_keys = sizes.filter(F.col("__bn") > hot_bucket_rows).select(
        "tbl", "bucket"
    )
    # the common case has NO hot buckets: checking costs one aggregate
    # over the checkpointed frame and removes the anti/semi-join pair,
    # the expression-cosine fallback subtree, and the union from the plan
    # entirely (r8; the guard path itself is unchanged when it fires)
    if hot_keys.isEmpty():
        return (
            b.groupBy("tbl", "bucket")
            .applyInPandas(fn, f"id_a {id_dt}, id_b {id_dt}")
            .distinct()
        )
    cold = b.join(hot_keys, ["tbl", "bucket"], "left_anti")
    pairs = cold.groupBy("tbl", "bucket").applyInPandas(
        fn, f"id_a {id_dt}, id_b {id_dt}"
    )
    hot = b.join(hot_keys, ["tbl", "bucket"], "left_semi")
    ha = hot.filter(F.col(probe_col)) if probe_col else hot
    ha = ha.select(
        "tbl", "bucket", F.col(id_col).alias("__ida"), F.col(vec_col).alias("__va")
    )
    hb = hot.select(
        "tbl", "bucket", F.col(id_col).alias("__idb"), F.col(vec_col).alias("__vb")
    )
    hot_cond = (
        (F.col("__ida") != F.col("__idb"))
        if probe_col
        else (F.col("__ida") < F.col("__idb"))
    )
    hot_pairs = (
        ha.join(hb, ["tbl", "bucket"])
        .filter(hot_cond)
        .filter(cosine(F.col("__va"), F.col("__vb")) >= threshold)
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
        )
    )
    return pairs.unionByName(hot_pairs).distinct()


def embedding_state(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    n_tables: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """(buckets, vecs) frontier state for a corpus WITHOUT running a
    dedup pass — exactly what incremental_embedding_neardup returns as
    its second and third outputs (bucket assignment is
    seed-deterministic, so state built here and state accumulated by
    prior runs are interchangeable). Use to bootstrap a frontier from
    an already-deduplicated corpus, the embedding analog of
    dedup.band_signatures."""
    ev = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    buckets = _bucketed_long(ev, id_col, "__v", n_planes, dim, n_tables).select(
        id_col, "tbl", "bucket"
    )
    return buckets, df.select(id_col, vec_col)


def compact_embedding_frontier(
    seen_buckets: DataFrame,
    seen_vecs: DataFrame,
    emitted: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_iters: int = 20,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Periodic compaction of the embedding near-dup frontier — the
    similarity-family analog of dedup.compact_neardup_frontier: full CC
    over ALL processed vectors from the persisted state alone (bucket
    table + vector table; embeddings are never recomputed), returning
    canonical keeper ids and, given `emitted`, retractions — emitted
    vectors whose global component gained a smaller keeper through a
    later bridge vector. Removing retractions converges the rolling
    corpus onto the combined-run keeper set.

    Scale shape: unlike the minhash frontier, star-edge reduction CANNOT
    apply — bucket co-residence is only a candidate signal here, every
    edge must pass the exact cosine >= threshold verify, and A-min /
    B-min may both fail where A-B passes. The intrinsic cost is
    sum(bucket_size²) dot products, the knob for which is the LSH
    design (n_planes/n_tables at signature time) — but the CONSTANT
    matters: verification runs as a per-bucket blocked numpy matmul
    (bucket_verified_pairs), never as a materialized M²/2-row pair join
    that ships two vector payloads per pair through an interpreted
    aggregate expression. Measured at 200 k vectors / 1024-slot tables
    (identical bucket occupancy): the join-then-verify form took 548 s;
    the per-bucket matmul form 10.1 s — 54×, and 10× data now costs
    1.53× time (BENCH/compact_embedding.json)."""
    from illumio_spark.operators.dedup import (
        canonical_and_retractions,
        neardup_components,
    )

    b = seen_buckets.select(id_col, "tbl", "bucket").distinct()
    v = seen_vecs.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).distinct()
    bv = b.join(v, id_col)  # each vector moves once per bucket membership
    verified = bucket_verified_pairs(
        bv, id_col=id_col, vec_col="__v", threshold=threshold
    )
    nodes = b.select(id_col).distinct()
    comp = neardup_components(nodes, verified, id_col, max_iters=max_iters)
    return canonical_and_retractions(comp, emitted, id_col)


def ivf_train_centroids(
    emb: DataFrame, vec_col: str = "embedding", n_centroids: int = 64,
    sample_n: int = 20000, iters: int = 10, seed: int = LSH_SEED,
    order_col: str = "vec_id",
) -> np.ndarray:
    """Spherical k-means centroids from a corpus sample (Lloyd iterations
    on the unit sphere: assign by max dot product, re-mean, renormalize).

    Training is deliberately driver-side numpy over a bounded SAMPLE —
    the standard IVF recipe (faiss trains on ~100k-1M points regardless of
    corpus size); the full corpus only ever sees the broadcast centroids
    in the assignment pass. Deterministic under the seed: the sample is
    the hash-predicate subset pmod(xxhash64(order_col), m) == 0 with
    m = ceil(n / sample_n) — deterministic in the DATA (independent of
    partitioning and plan choice, the r4 ADVICE requirement) AND
    scan-local: one column-pruned count plus one map-only filtered scan,
    no per-partition top-k merge (the r5 orderBy().limit() fix cost a
    TakeOrdered pass over the corpus; r5 VERDICT task 4 trades it away).
    order_col must be unique-ish (an id) — duplicated values hash
    identically and would over-select."""
    n = emb.count()
    m = max(1, -(-n // sample_n))  # ceil; expected sample size ≈ sample_n
    pdf = (
        emb.select(order_col, vec_col)
        .filter(F.pmod(F.xxhash64(F.col(order_col)), F.lit(m)) == 0)
        .select(vec_col)
        .toPandas()
    )
    x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
    if x.size == 0:
        raise ValueError("cannot train IVF centroids on an empty corpus")
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.Generator(np.random.PCG64(seed))
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def _ivf_cells_pandas(vec, centroids: np.ndarray, n_probe: int) -> "F.Column":
    """Nearest-centroid cell ids per vector: ONE numpy matmul per Arrow
    batch against the closure-captured centroids (broadcast once per
    worker), top-n_probe cells by dot product → array<int>."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    cents_t = centroids.T  # (dim, n_centroids)

    def _cells(v):
        mat = np.asarray(v.tolist(), dtype=np.float64)
        scores = mat @ cents_t  # (batch, n_centroids)
        # stable sort: equal scores break ties by ascending cell id, a
        # deterministic rule an external oracle can reproduce exactly
        top = np.argsort(-scores, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(top.astype(np.int32)))

    return pandas_udf(_cells, T.ArrayType(T.IntegerType()))(vec)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
    n_centroids: int = 64,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    score: str = "expr",
) -> DataFrame:
    """Approximate top-k via IVF (inverted file): corpus vectors live in
    their single nearest-centroid cell, queries probe their n_probe
    nearest cells, candidates come from the (cell) equi-join, and exact
    cosine re-ranks — the faiss IVF-Flat shape as a DataFrame plan.
    score='expr' (default) re-ranks with the JVM cosine expression the
    DuckDB oracle reproduces; score='pandas' scores the same candidate
    rows with the Arrow-batched numpy cosine (cosine_pandas) — the
    engine default bench.py measures (rank ties cannot flip between the
    modes unless two candidates tie at float precision AT the same
    cosine, where the id tiebreak already decides).

    100 TB scale shape: centroid training touches a bounded sample; cell
    assignment is a map-only matmul pass; the candidate join shuffles on
    compact int cell ids (never all-pairs); recall is tuned by n_probe
    with cost linear in probed-cell population. Complements lsh_topk:
    IVF adapts to the data distribution (clustered corpora), hyperplane
    LSH is data-independent."""
    if centroids is None:
        centroids = ivf_train_centroids(emb, vec_col, n_centroids, order_col=id_col)
    ev = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    # parallelize the cell-assignment matmul and the re-attach join off the
    # one-task scan (r8): both consumers of ev share this one narrow
    # exchange (ReusedExchange) instead of re-scanning serially
    ev = parallelize_scan(ev, F.col(id_col))
    qv = queries.select(F.col(qid_col), F.col(qvec_col).cast("array<double>").alias("qv"))
    e = ev.select(
        id_col, F.get(_ivf_cells_pandas(F.col("v"), centroids, 1), 0).alias("cell")
    )
    qn = qv.select(
        qid_col, F.explode(_ivf_cells_pandas(F.col("qv"), centroids, n_probe)).alias("cell")
    )
    cand_ids = (
        e.join(F.broadcast(qn), "cell")
        .filter(F.col(id_col) != F.col(qid_col))
        .select(qid_col, id_col)
        .dropDuplicates([qid_col, id_col])
    )
    candidates = cand_ids.join(ev, id_col).join(F.broadcast(qv), qid_col)
    score_fn = _score_fn(score)
    scored = candidates.withColumn("cos", score_fn(F.col("v"), F.col("qv")))
    w = Window.partitionBy(qid_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(qid_col), F.col(id_col).alias("neighbor_id"), F.col("rank"))
    )


def hashing_embed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """REAL text embedding via the hashing trick (feature hashing / signed
    hashing vectorizer — Weinberger et al. 2009): token → xxhash64 bucket,
    second independent hash picks ±1 sign, per-bucket signed counts,
    l2-normalized dense vector. No model weights needed, fully
    deterministic, and the output feeds lsh_neardup_pairs / lsh_topk
    directly — raw text → embedding → ANN end-to-end without the fake
    embed_stub.

    Scale shape: explode tokens (codegen) → ONE groupBy(id, bucket) with
    map-side partial sums → ONE groupBy(id) assembling the dense vector
    from a (bucket → weight) map; the only HOF work is dim evaluations per
    DOC (not per token), negligible at any corpus size. Docs with zero
    tokens embed as the zero vector (cosine against it is NULL — callers
    treat that as 'no signal', same as a dead letter)."""
    # hash(id)-partition doc rows before the explode (r8): both downstream
    # groupBys key on id (or id+bucket), so this one narrow exchange
    # replaces both token-level exchanges and parallelizes the tokenize
    # off the one-task scan of single-row-group inputs
    df = repartition_by(df, F.col(id_col))
    toks = df.select(
        F.col(id_col),
        F.explode_outer(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("__tok"),
    ).select(id_col, F.nullif(F.col("__tok"), F.lit("")).alias("__tok"))
    if hash_fn == "md5":
        # oracle-parity mode (same hash-discipline pattern as operators.dedup):
        # DuckDB reproduces CAST('0x'||substr(md5(tok),1,15) AS UBIGINT) —
        # 15 hex digits < 2^60 fit both engines' signed/unsigned 64-bit
        hv = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10).cast("long")
        sv = F.conv(
            F.substring(F.md5(F.concat(F.lit("sign"), F.col("__tok"))), 1, 15), 16, 10
        ).cast("long")
        bucket = F.pmod(hv, F.lit(dim))
        sign = F.when(F.pmod(sv, F.lit(2)) == 0, 1.0).otherwise(-1.0)
    else:
        bucket = F.pmod(F.xxhash64(F.col("__tok")), F.lit(dim))
        sign = F.when(F.pmod(F.xxhash64(F.lit("sign"), F.col("__tok")), F.lit(2)) == 0, 1.0).otherwise(-1.0)
    weights = (
        toks.withColumn("__b", F.when(F.col("__tok").isNotNull(), bucket))
        .withColumn("__w", F.when(F.col("__tok").isNotNull(), sign))
        .groupBy(id_col, "__b")
        .agg(F.sum("__w").alias("__w"))
    )
    assembled = weights.groupBy(id_col).agg(
        F.map_from_entries(
            F.filter(
                F.collect_list(F.struct(F.col("__b").alias("k"), F.col("__w").alias("v"))),
                lambda e: e["k"].isNotNull(),
            )
        ).alias("__m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.col("__m")[i.cast("long")], F.lit(0.0)),
    )
    withv = assembled.select(id_col, dense.alias("__raw"))
    norm = l2_norm(F.col("__raw"))
    unit = F.when(
        norm > 0, F.transform(F.col("__raw"), lambda x: x / norm)
    ).otherwise(F.col("__raw"))
    return withv.select(id_col, unit.alias("embedding"))
