"""Fixed per-run cost of run_pipeline: its job budget, job-free local
frames, manifest-schema reads of committed runs, and the once-per-gateway
Column expressions surviving a session restart."""

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from illumio_spark import synth
from illumio_spark.plans.pipeline import enrichment_lookup, rollups_from_counts, run_pipeline
from illumio_spark.sources.tableio import TableIO

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark jobs of one warm run_pipeline with a TableIO: the fan-out write,
# the rollups write, and the checkpoints aggregate and write over the
# read-back. It was 12 while the RDD-backed lookup needed its own
# broadcast job and every read of a committed run inferred its schema
# from the parquet footers in a job of its own.
JOB_BUDGET = 6
DEDUP_JOB_BUDGET = 16
INCR_NEARDUP_JOB_BUDGET = 18


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_run_pipeline_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    df = spark.createDataFrame(synth.generate_pandas(20))
    run_pipeline(spark, df, io=TableIO(str(tmp_path / "warm")), run_id="warm")
    sc.setJobGroup("fixed-cost-budget", "run_pipeline job budget")
    try:
        run_pipeline(spark, df, io=TableIO(str(tmp_path / "sinks")), run_id="r1")
        jobs = sc.statusTracker().getJobIdsForGroup("fixed-cost-budget")
    finally:
        sc.setJobGroup(None, None)
    assert 0 < len(jobs) <= JOB_BUDGET, f"{len(jobs)} jobs: {sorted(jobs)}"


def _neardup_corpus(seed: int = 3):
    """120 seeded random docs, 25 near-dups (one extra token) and 15 exact
    dups; every fifth base doc also carries a shared 12-token block."""
    import random

    rng = random.Random(seed)
    words = [f"w{i}" for i in range(300)]
    block = " ".join(f"blk{i}" for i in range(12))
    rows = []
    for i in range(120):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(40, 80)))
        rows.append((i, f"{text} {block}" if i % 5 == 0 else text))
    rows += [(1_000_000 + i, rows[i][1] + " zq") for i in range(25)]
    rows += [(1_000_000 + i, rows[i][1]) for i in range(25, 40)]
    return rows


def test_dedup_curation_job_budget(spark):
    """Spark jobs of one warm near-dup keep + verbatim spans + span cut,
    the shape of perfbench's dedup_curation operation at toy size, on
    local[4]. It ran 43 jobs while neardup_components always ran a
    distributed star-contraction round (with its convergence aggregate
    and checkpoints) and cut_verbatim_spans merged intervals in a window,
    split the corpus with two joins and exploded and regrouped tokens.
    Finishing the small CC graph on the driver and cutting in one
    projection left 28 (the edge count that picks the CC regime runs
    two jobs under AQE). Labelling the small band table on the driver
    (no star-edge shuffle, edge count, label join or label checkpoint)
    and computing the spans once for both of their readers leave 16.

    Warm ops also stop compiling generated classes: the op's plans need
    more distinct classes than Spark's default codegen cache of 100
    keeps, so at that default every call recompiled dozens of them with
    Janino. A warm op can still meet a few classes for the first time,
    because AQE can plan a stage differently from one call to the next (a
    broadcast-join stage in probes of this op). So the check is that one
    of up to four further warm ops compiles none."""
    from illumio_spark.operators import dedup as D
    from illumio_spark.session import codegen_compile_count

    sc = spark.sparkContext
    df = spark.createDataFrame(_neardup_corpus(), "doc_id long, text string")

    def op():
        kept = D.neardup_keepers(df).count()
        spans = D.verbatim_overlap_spans(df, k=4)
        n_cut = D.cut_verbatim_spans(df, spans, min_span_tokens=6).count()
        return kept, spans.count(), n_cut

    op()
    sc.setJobGroup("fixed-cost-dedup", "dedup curation job budget")
    try:
        kept, n_spans, n_cut = op()
        jobs = sc.statusTracker().getJobIdsForGroup("fixed-cost-dedup")
    finally:
        sc.setJobGroup(None, None)
    assert (kept, n_spans, n_cut) == (120, 528, 141)
    assert 0 < len(jobs) <= DEDUP_JOB_BUDGET, f"{len(jobs)} jobs: {sorted(jobs)}"
    compiles = []
    while len(compiles) < 4 and 0 not in compiles:
        before = codegen_compile_count(spark)
        op()
        compiles.append(codegen_compile_count(spark) - before)
    assert 0 in compiles, f"classes compiled per warm op: {compiles}"


def test_incremental_neardup_job_budget(spark):
    """Spark jobs of one warm incremental_neardup keep count: a 100-doc
    batch (25 near-dups and 15 exact dups of earlier docs among them)
    against the band frontier of the first 60 docs, on local[4]. It ran
    28 jobs while the touched band rows went through an eager
    checkpoint, star edges with their own checkpoint, a node union and
    neardup_components (edge count, collect, createDataFrame, label join
    and label checkpoint). Labelling the touched rows the way compaction
    labels a band table (one count, one Arrow collect) leaves
    18."""
    from illumio_spark.operators import dedup as D

    sc = spark.sparkContext
    df = spark.createDataFrame(_neardup_corpus(), "doc_id long, text string")
    seen = D.band_signatures(df.filter("doc_id < 60")).localCheckpoint(eager=True)
    new = df.filter("doc_id >= 60")

    def op():
        return D.incremental_neardup(new, seen)[0].count()

    op()
    sc.setJobGroup("fixed-cost-incremental", "incremental near-dup job budget")
    try:
        kept = op()
        jobs = sc.statusTracker().getJobIdsForGroup("fixed-cost-incremental")
    finally:
        sc.setJobGroup(None, None)
    assert kept == 60
    assert 0 < len(jobs) <= INCR_NEARDUP_JOB_BUDGET, f"{len(jobs)} jobs: {sorted(jobs)}"


def test_small_frames_are_local_relations(spark):
    for df in (
        enrichment_lookup(spark),
        rollups_from_counts({"n_summary": 2, "n_dead": 1}, "r1", spark),
    ):
        plan = _plan(df)
        assert "LocalTableScan" in plan, plan
        assert "Scan ExistingRDD" not in plan, plan


def test_rollups_bind_run_id_as_a_parameter(spark):
    from illumio_spark import schema as S

    rid = "it's -- a \\ run"
    roll = rollups_from_counts({"n_summary": 3, "n_auditable": 2}, rid, spark)
    assert roll.schema == S.ROLLUPS_SCHEMA
    got = sorted(
        (r.sink, r.event_class or "", r.n_rows, r.run_id) for r in roll.collect()
    )
    assert got == [
        ("dead_letter", "", 0, rid),
        ("routed_events", S.CLASS_AUDITABLE, 2, rid),
        ("routed_events", S.CLASS_SUMMARY, 3, rid),
    ]


# -- TableIO reads with the manifest-recorded schema ---------------------------
# (a deleted run dir still raises: test_retention.test_read_raises_on_deleted_run_dir)


def test_empty_partitioned_run_reads_back_with_recorded_schema(spark, tmp_path):
    io = TableIO(str(tmp_path))
    empty = spark.createDataFrame([], "id long, v string, part string")
    io.write(empty, "t", run_id="r1", partition_by=["part"])
    got = io.read(spark, "t", "r1")
    assert got.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("id", "bigint"), ("v", "string"), ("part", "string"),
    ]


def test_pipeline_out_column_order(spark, tmp_path):
    from illumio_spark.plans.pipeline import fanout_frame, parse_enrich_format

    io = TableIO(str(tmp_path))
    df = spark.createDataFrame(synth.generate_pandas(5))
    run_pipeline(spark, df, io=io, run_id="r1")
    want = fanout_frame(parse_enrich_format(spark, df)).columns
    assert want[-1] == "sink"
    assert io.read(spark, "pipeline_out", "r1").columns == want
    assert io.read(spark, "pipeline_out").columns == want


# The manifest entries TableIO recorded before it read runs with their
# schema: `schema` is StructType.simpleString() of the written frame.
LEGACY_MANIFESTS = {
    "pipeline_out": (
        "struct<conv_id:string,turn_idx:int,event_class:string,event_type:string,"
        "severity:string,routed_text:string,raw_text:string,error_reason:string,"
        "ts:timestamp,sink:string>",
        ["sink"],
    ),
    "rollups": ("struct<event_class:string,sink:string,n_rows:bigint,run_id:string>", []),
    "checkpoints": (
        "struct<partition_key:string,max_ts:timestamp,n_rows:bigint,lineage_id:string>",
        [],
    ),
}


def test_legacy_manifest_reads_back_same_rows(spark, tmp_path):
    """Run dirs + manifest.json laid out exactly as earlier versions
    committed them read back the same rows as a plain inferred read."""
    src = TableIO(str(tmp_path / "src"))
    out = run_pipeline(
        spark, spark.createDataFrame(synth.generate_pandas(15)), io=src, run_id="legacy"
    )
    assert out["routed_events"].count() > 0
    root = tmp_path / "legacy"
    for table, (schema, pby) in LEGACY_MANIFESTS.items():
        run_dir = root / table / "run_id=legacy"
        shutil.copytree(tmp_path / "src" / table / "run_id=legacy", run_dir)
        manifest = {
            "table": table,
            "runs": [{
                "run_id": "legacy",
                "path": str(run_dir),
                "schema": schema,
                "partition_by": pby,
                "committed_at": 1767225600.0,
            }],
        }
        (root / table / "manifest.json").write_text(json.dumps(manifest, indent=2))
    io = TableIO(str(root))
    for table in LEGACY_MANIFESTS:
        got = io.read(spark, table, "legacy")
        inferred = spark.read.parquet(str(root / table / "run_id=legacy"))
        assert got.columns == inferred.columns, table
        assert sorted(map(str, got.collect())) == sorted(map(str, inferred.collect())), table
        assert got.count() > 0, table


# -- once-per-gateway expressions across a session restart ---------------------

RESTART_SCRIPT = textwrap.dedent(
    """
    import hashlib, sys, tempfile
    from illumio_spark import synth
    from illumio_spark.functions.format import _routed_text_stages
    from illumio_spark.functions.parse import _jvm_parse_stages
    from illumio_spark.plans.pipeline import run_pipeline
    from illumio_spark.queries import pipeline_golden as PG
    from illumio_spark.session import build_session
    from illumio_spark.sources.tableio import TableIO

    def checksum(texts):
        return str(sum(int(hashlib.md5((t or "").encode()).hexdigest()[:16], 16)
                       for t in texts) % 2**64)

    spark = build_session(app_name="restart-1", master="local[2]", shuffle_partitions=2)
    run_pipeline(spark, synth.generate_spark(spark, 5), io=TableIO(tempfile.mkdtemp(dir=sys.argv[1])))
    built = (_jvm_parse_stages(), _routed_text_stages())
    spark.stop()

    spark = build_session(app_name="restart-2", master="local[2]", shuffle_partitions=2)
    io = TableIO(tempfile.mkdtemp(dir=sys.argv[1]))
    out = run_pipeline(spark, synth.generate_spark(spark, PG.N_CONV, hot_frac=PG.HOT_FRAC),
                       io=io, run_id="golden")
    assert _jvm_parse_stages() is built[0] and _routed_text_stages() is built[1], "rebuilt"
    routed = out["routed_events"].toPandas()
    got = [(ec, len(g), g["conv_id"].nunique(), checksum(g["routed_text"]))
           for ec, g in sorted(routed.groupby("event_class"))]
    assert got == PG.ROUTED_SUMMARY, got
    dead = out["dead_letter"].toPandas()
    got = [(r, len(g), checksum(g["raw_text"])) for r, g in sorted(dead.groupby("error_reason"))]
    assert got == PG.DEAD_SUMMARY, got
    spark.stop()
    print("RESTART_OK")
    """
)


def test_gateway_expressions_survive_session_restart(tmp_path):
    script = tmp_path / "restart.py"
    script.write_text(RESTART_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path)],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        )},
    )
    assert proc.returncode == 0 and "RESTART_OK" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )
