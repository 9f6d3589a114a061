"""The traced run: per-layer metrics, measured from outside the program.

Four instruments, none of them inside the program:
  - noop-sink prefixes of the public functions, each timed on its own, so
    a layer's self time is its prefix time minus the previous prefix's;
  - ``TimedTableIO``, a TableIO subclass passed as ``io=``, which times
    every write/read and counts manifest commits;
  - a Spark job description set around each timed call;
  - Spark's event log (``build_session(extra_conf=...)``), parsed after
    the session stops, for task CPU, GC, shuffle, spill and job counts,
    attributed by job description or, for the stream, by time window.

Every per-layer metric is reported on every workload; a layer that the
workload does not exercise reads 0. The self times of a workload plus
``unattributed_s`` add up to ``trace.wall_s``, the wall time of one traced
operation run after the prefixes (for the stream: the measured stream).
``trace.overhead_frac`` compares the session's first warm traced operation
with the first warm operation of an untraced child run on the same seed,
so both sides are at the same point of JVM warm-up.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict

from illumio_spark.sources.tableio import TableIO

import checks
import harness
import inputs
import workloads

# batch prefixes are timed twice and the faster time kept: the first round
# also pays code generation for the giant parse/format projections, which no
# earlier job shared. The dedup prefixes reuse the operators' compiled
# stages and take ~15 s a round, so they are timed once.
PREFIX_REPS = {"batch_fanout": 2, "dedup_curation": 1}
CHILD_SECONDS = 1  # the untraced child measures one warm operation

PER_LAYER = [
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("scan.self_s", "s"),
    ("plans.pipeline.repartition.self_s", "s"),
    ("plans.pipeline.repartition.shuffle_write_mb", "MB"),
    ("functions.parse.self_s", "s"),
    ("functions.parse.task_cpu_s", "s"),
    ("functions.format.self_s", "s"),
    ("functions.format.task_cpu_s", "s"),
    ("functions.format.gc_s", "s"),
    ("plans.pipeline.fanout_sort.self_s", "s"),
    ("plans.pipeline.fanout_sort.spill_mb", "MB"),
    ("sources.tableio.pipeline_out_self_s", "s"),
    ("sources.tableio.write_rollups_s", "s"),
    ("sources.tableio.write_checkpoints_s", "s"),
    ("sources.tableio.bytes_written_mb", "MB"),
    ("sources.tableio.files_written", "count"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.gc_s", "s"),
    ("codegen_fallbacks", "count"),
    ("rows.turns_in", "count"),
    ("rows.routed_summary", "count"),
    ("rows.routed_auditable", "count"),
    ("rows.dead_letter", "count"),
    ("streaming.add_batch_p50_s", "s"),
    ("streaming.engine_overhead_p50_s", "s"),
    ("streaming.jobs_per_batch", "count"),
    ("streaming.rows_per_batch", "count"),
    ("sources.tableio.write_pipeline_out_p50_s", "s"),
    ("sources.tableio.write_rollups_p50_s", "s"),
    ("sources.tableio.write_checkpoints_p50_s", "s"),
    ("sources.tableio.manifest_commits_per_batch", "count"),
    ("plans.pipeline.other_p50_s", "s"),
    ("operators.dedup.signature.self_s", "s"),
    ("operators.dedup.candidates.self_s", "s"),
    ("operators.dedup.candidates.pairs", "count"),
    ("operators.dedup.candidates.shuffle_write_mb", "MB"),
    ("operators.dedup.cc.self_s", "s"),
    ("operators.dedup.cc.jobs", "count"),
    ("operators.dedup.cc.edges_in", "count"),
    ("operators.dedup.keepers.dropped", "count"),
    ("operators.dedup.keepers.pairs_per_drop", "ratio"),
    ("operators.dedup.spans.self_s", "s"),
    ("operators.dedup.spans.matches", "count"),
    ("operators.dedup.cut.self_s", "s"),
    ("unattributed_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.overhead_frac", "ratio"),
]


def event_log_conf(directory: str) -> dict:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": directory,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Jobs and per-stage task totals from one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = {
                        "desc": (e.get("Properties") or {}).get("spark.job.description"),
                        "submitted": e["Submission Time"] / 1000,
                        "stages": e["Stage IDs"],
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    s = stages[e["Stage ID"]]
                    s["tasks"] += 1
                    s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["shuffle_write_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
                    )
                    s["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
        # a stage's tasks belong to the first job that lists it; later jobs
        # list it again only as a skipped (reused) parent
        seen: set[int] = set()
        for j in sorted(self.jobs):
            own = [s for s in self.jobs[j]["stages"] if s not in seen]
            seen.update(own)
            self.jobs[j]["totals"] = {
                k: sum(stages[s][k] for s in own if s in stages)
                for k in ("tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")
            }

    def totals(self, keep) -> dict:
        picked = [j for j in self.jobs.values() if keep(j)]
        out = {k: sum(j["totals"][k] for j in picked)
               for k in ("tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")}
        out["jobs"] = len(picked)
        return out

    def labelled(self, prefix: str) -> dict:
        return self.totals(lambda j: (j["desc"] or "").startswith(prefix))

    def window(self, t0: float, t1: float) -> dict:
        return self.totals(lambda j: t0 <= j["submitted"] <= t1)


@contextlib.contextmanager
def label(sc, name: str | None):
    """Set the job description for the Spark jobs of the enclosed calls."""
    if sc is None or name is None:
        yield
        return
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


class TimedTableIO(TableIO):
    """TableIO that times each write/read (labelling its Spark jobs when
    given a SparkContext and a scope) and counts manifest commits."""

    def __init__(self, root: str, sc=None, scope: str | None = None):
        super().__init__(root)
        self.sc, self.scope = sc, scope
        self.calls: list[tuple[str, str, str | None, float]] = []
        self.commits = 0

    def _timed(self, kind, table, run_id, fn):
        t0 = time.perf_counter()
        name = f"{self.scope}/tableio.{kind}:{table}" if self.scope else None
        try:
            with label(self.sc, name):
                return fn()
        finally:
            self.calls.append((kind, table, run_id, time.perf_counter() - t0))

    def write(self, df, table, run_id, *args, **kwargs):
        return self._timed("write", table, run_id,
                           lambda: super(TimedTableIO, self).write(df, table, run_id, *args, **kwargs))

    def read(self, spark, table, run_id=None):
        return self._timed("read", table, run_id,
                           lambda: super(TimedTableIO, self).read(spark, table, run_id))

    def _commit_manifest(self, *args, **kwargs):
        self.commits += 1
        return super()._commit_manifest(*args, **kwargs)

    def write_s(self, table: str, run_id: str | None = None) -> float:
        return sum(d for k, t, r, d in self.calls
                   if k == "write" and t == table and (run_id is None or r == run_id))


def noop(frame):
    """The action that runs a whole plan into the noop sink."""
    return lambda: frame.write.format("noop").mode("overwrite").save()


def timed_prefixes(sc, prefixes: list[tuple[str, object]], reps: int) -> tuple[dict, dict]:
    """Fastest wall over `reps` rounds, and the last result, of each
    labelled prefix action (its plan is built inside the timed region:
    some operators run jobs while they build)."""
    walls, results = defaultdict(list), {}
    for _ in range(reps):
        for name, action in prefixes:
            with label(sc, f"prefix:{name}"):
                t0 = time.perf_counter()
                results[name] = action()
                walls[name].append(time.perf_counter() - t0)
    return {k: min(v) for k, v in walls.items()}, results


def sink_files(root: str, run_ids: set[str] | None = None) -> tuple[float, int]:
    """(MiB, data files) written under a TableIO root, optionally only
    for the given runs."""
    mb, files = 0.0, 0
    for d, _, fs in os.walk(root):
        if run_ids is not None and not any(f"run_id={r}" in d for r in run_ids):
            continue
        for f in fs:
            mb += os.path.getsize(os.path.join(d, f)) / 2**20
            files += f.endswith(".parquet")
    return mb, files


def rollup_rows(spark, io, run_ids: list[str]) -> dict:
    n = defaultdict(int)
    for r in run_ids:
        for row in io.read(spark, "rollups", r).collect():
            n[f"{row['sink']}|{row['event_class'] or ''}"] += int(row["n_rows"])
    return {
        "rows.routed_summary": n["routed_events|summary"],
        "rows.routed_auditable": n["routed_events|auditable"],
        "rows.dead_letter": n["dead_letter|"],
    }


# -- per workload --------------------------------------------------------------

def trace_batch(spark, run, inp: inputs.Transcripts, seconds: float) -> tuple[dict, workloads.Measured]:
    from illumio_spark.functions.parse import parse_turns
    from illumio_spark.plans.pipeline import (
        fanout_frame,
        ordered_for_sink,
        parse_enrich_format,
        run_pipeline,
    )

    sc = spark.sparkContext
    df = spark.read.parquet(inp.table)

    def traced_run(tag: str):
        io = TimedTableIO(run.sub(f"sinks_{tag}"), sc, tag)
        with label(sc, tag):
            t0 = time.perf_counter()
            run_pipeline(spark, df, io=io, run_id=tag)
            wall = time.perf_counter() - t0
        return io, wall, checks.batch_run_problems(spark, io, tag, inp.expected)

    cold = workloads.attempt(workloads.batch_op(spark, run, inp))
    _, first_s, first_problems = traced_run("first")

    rep = ordered_for_sink(df, sc.defaultParallelism * 4, sort=False)  # run_pipeline's default
    routed = fanout_frame(parse_enrich_format(spark, rep))
    t, _ = timed_prefixes(sc, [
        ("scan", noop(df)),
        ("repartition", noop(rep)),
        ("parse", noop(parse_turns(rep))),
        ("format", noop(routed)),
        ("fanout_sort", noop(routed.sortWithinPartitions("conv_id", "turn_idx"))),
    ], PREFIX_REPS["batch_fanout"])
    io, wall, problems = traced_run("full")
    mb, files = sink_files(io.root)
    writes = {k: io.write_s(k) for k in ("pipeline_out", "rollups", "checkpoints")}
    values = {
        "scan.self_s": t["scan"],
        "plans.pipeline.repartition.self_s": t["repartition"] - t["scan"],
        "functions.parse.self_s": t["parse"] - t["repartition"],
        "functions.format.self_s": t["format"] - t["parse"],
        "plans.pipeline.fanout_sort.self_s": t["fanout_sort"] - t["format"],
        "sources.tableio.pipeline_out_self_s": writes["pipeline_out"] - t["fanout_sort"],
        "sources.tableio.write_rollups_s": writes["rollups"],
        "sources.tableio.write_checkpoints_s": writes["checkpoints"],
        "sources.tableio.bytes_written_mb": mb,
        "sources.tableio.files_written": files,
        "rows.turns_in": inp.n_turns,
        **rollup_rows(spark, io, ["full"]),
        "trace.wall_s": wall,
        "unattributed_s": wall - sum(writes.values()),
    }

    def from_log(ev: EventLog) -> dict:
        reps = PREFIX_REPS["batch_fanout"]
        p = {k: {x: v / reps for x, v in ev.labelled(f"prefix:{k}").items()}
             for k in ("repartition", "parse", "format", "fanout_sort")}
        full = ev.labelled("full")
        return {
            "plans.pipeline.repartition.shuffle_write_mb": p["repartition"]["shuffle_write_mb"],
            "functions.parse.task_cpu_s": p["parse"]["cpu_s"] - p["repartition"]["cpu_s"],
            "functions.format.task_cpu_s": p["format"]["cpu_s"] - p["parse"]["cpu_s"],
            "functions.format.gc_s": p["format"]["gc_s"] - p["parse"]["gc_s"],
            "plans.pipeline.fanout_sort.spill_mb": p["fanout_sort"]["spill_mb"],
            "spark.jobs": full["jobs"],
            "spark.tasks": full["tasks"],
            "spark.gc_s": full["gc_s"],
        }

    m = workloads.summarize(cold, [first_s, wall], [first_problems, problems], 0)
    # stream_microbatch is not a benchmark workload (time budget), so its
    # per-micro-batch layers are measured here, on the same seed's files
    stream, sm = trace_stream(spark, run, inp, 0, cold=False)
    values.update({k: v for k, v in stream["values"].items() if k in STREAM_LAYERS})
    m.attempted += sm.attempted
    m.failed += sm.failed
    m.problems += sm.problems

    def both(ev: EventLog) -> dict:
        out = from_log(ev)
        out["streaming.jobs_per_batch"] = stream["from_log"](ev)["streaming.jobs_per_batch"]
        return out

    return {"values": values, "from_log": both, "op_s": first_s}, m


STREAM_LAYERS = {
    "streaming.add_batch_p50_s",
    "streaming.engine_overhead_p50_s",
    "streaming.rows_per_batch",
    "sources.tableio.write_pipeline_out_p50_s",
    "sources.tableio.write_rollups_p50_s",
    "sources.tableio.write_checkpoints_p50_s",
    "sources.tableio.manifest_commits_per_batch",
    "plans.pipeline.other_p50_s",
}


def trace_stream(
    spark, run, inp: inputs.Transcripts, seconds: float, cold: bool = True
) -> tuple[dict, workloads.Measured]:
    """cold=False skips the single-file warm-up query, for a session whose
    batch runs already compiled the pipeline."""
    io = TimedTableIO(run.sub("stream_sinks"))
    st = workloads.StreamFeed(spark, run, inp, io)
    t0 = time.perf_counter()
    if cold:
        st.land(1)
        st.query()
    cold_s = time.perf_counter() - t0
    commits0 = io.commits
    progress = []
    w0, t0 = time.time(), time.perf_counter()
    turns = 0
    while st.pending and (not progress or time.perf_counter() - t0 < seconds):
        turns += st.land(workloads.STREAM_CHUNK_FILES)
        progress += st.query()
    wall, w1 = time.perf_counter() - t0, time.time()
    passed, problems = checks.stream_problems(
        spark, io, [inp.stream_expected[i] for i in st.landed]
    )

    n = len(progress)
    runs = [f"batch{p['batchId']:06d}" for p in progress]
    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
    add = [p["durationMs"]["addBatch"] / 1000 for p in progress]
    per_table = {k: [io.write_s(k, r) for r in runs] for k in ("pipeline_out", "rollups", "checkpoints")}
    mb, files = sink_files(io.root, set(runs))
    p50 = statistics.median
    values = {
        "streaming.add_batch_p50_s": p50(add),
        "streaming.engine_overhead_p50_s": p50([a - b for a, b in zip(trig, add)]),
        "streaming.rows_per_batch": p50([p["numInputRows"] for p in progress]),
        "sources.tableio.write_pipeline_out_p50_s": p50(per_table["pipeline_out"]),
        "sources.tableio.write_rollups_p50_s": p50(per_table["rollups"]),
        "sources.tableio.write_checkpoints_p50_s": p50(per_table["checkpoints"]),
        "sources.tableio.manifest_commits_per_batch": (io.commits - commits0) / n,
        "plans.pipeline.other_p50_s": p50([
            a - sum(per_table[k][i] for k in per_table) for i, a in enumerate(add)
        ]),
        "sources.tableio.bytes_written_mb": mb,
        "sources.tableio.files_written": files,
        "rows.turns_in": turns,
        **rollup_rows(spark, io, runs),
        "trace.wall_s": wall,
        "unattributed_s": wall - sum(trig),
    }

    def from_log(ev: EventLog) -> dict:
        w = ev.window(w0, w1)
        return {
            "streaming.jobs_per_batch": w["jobs"] / n,
            "spark.jobs": w["jobs"],
            "spark.tasks": w["tasks"],
            "spark.gc_s": w["gc_s"],
        }

    m = workloads.Measured(
        cold_s=cold_s, walls=trig, items_per_s=0.0, attempted=len(st.landed),
        failed=len(st.landed) - passed, problems=problems,
    )
    return {"values": values, "from_log": from_log, "op_s": p50(trig)}, m


def trace_dedup(spark, run, inp: inputs.Documents, seconds: float) -> tuple[dict, workloads.Measured]:
    from illumio_spark.operators import dedup as D

    sc = spark.sparkContext
    op = workloads.dedup_op(spark, inp)
    cold = workloads.attempt(op)
    with label(sc, "first"):
        first_s, first_problems = op()

    corpus = spark.read.parquet(inp.corpus)
    passages = spark.read.parquet(inp.passages)
    bands = D.band_signatures(corpus)
    # the star-edge table neardup_keepers feeds to connected components
    pairs = D._band_star_edges(bands, "doc_id")
    spans = D.verbatim_overlap_spans(passages, k=inputs.SPAN_K)
    cut = D.cut_verbatim_spans(passages, spans, min_span_tokens=inputs.MIN_SPAN_TOKENS)
    t, res = timed_prefixes(sc, [
        ("scan", noop(corpus)),
        ("passages_scan", noop(passages)),
        ("signature", noop(bands)),
        ("candidates", pairs.count),
        ("cc", lambda: D.neardup_keepers(corpus).count()),  # CC runs while it builds
        ("spans", spans.count),
        ("cut", noop(cut)),
    ], PREFIX_REPS["dedup_curation"])
    with label(sc, "full"):
        wall, problems = op()
    n_pairs, n_matches, n_kept = res["candidates"], res["spans"], res["cc"]
    dropped = inp.expected["n_corpus"] - n_kept
    values = {
        "scan.self_s": t["scan"] + t["passages_scan"],
        "operators.dedup.signature.self_s": t["signature"] - t["scan"],
        "operators.dedup.candidates.self_s": t["candidates"] - t["signature"],
        "operators.dedup.candidates.pairs": n_pairs,
        "operators.dedup.cc.self_s": t["cc"] - t["candidates"],
        "operators.dedup.cc.edges_in": n_pairs,
        "operators.dedup.keepers.dropped": dropped,
        "operators.dedup.keepers.pairs_per_drop": n_pairs / dropped if dropped else 0.0,
        "operators.dedup.spans.self_s": t["spans"] - t["passages_scan"],
        "operators.dedup.spans.matches": n_matches,
        "operators.dedup.cut.self_s": t["cut"] - t["spans"],
        "trace.wall_s": wall,
        "unattributed_s": wall - t["cc"] - t["cut"],
    }

    def from_log(ev: EventLog) -> dict:
        full = ev.labelled("full")
        return {
            "operators.dedup.candidates.shuffle_write_mb":
                ev.labelled("prefix:candidates")["shuffle_write_mb"] / PREFIX_REPS["dedup_curation"],
            "operators.dedup.cc.jobs": ev.labelled("prefix:cc")["jobs"] / PREFIX_REPS["dedup_curation"],
            "spark.jobs": full["jobs"],
            "spark.tasks": full["tasks"],
            "spark.gc_s": full["gc_s"],
        }

    m = workloads.summarize(cold, [first_s, wall], [first_problems, problems], 0)
    return {"values": values, "from_log": from_log, "op_s": first_s}, m


TRACERS = {
    "batch_fanout": trace_batch,
    "stream_microbatch": trace_stream,
    "dedup_curation": trace_dedup,
}


def untraced_child(args) -> dict:
    """Run the untraced benchmark on the same seed in a child process (before
    this process starts its own JVM) and return its final JSON line."""
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(min(args.seconds, CHILD_SECONDS)), "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=150, cwd=harness.ROOT)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"untraced child run failed ({out.returncode}): {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def run_traced(args, run, inp, cap) -> tuple[dict, dict]:
    """(layer table with every per-layer metric, the result line's
    correct/attempted/failed); the untraced child counts toward correct."""
    child = untraced_child(args)
    spark, session_s = harness.start_session(event_log_conf(run.sub("eventlog")))
    try:
        layers, m = TRACERS[args.workload](spark, run, inp, args.seconds)
        rss = harness.peak_rss_mb([os.getpid(), harness.jvm_pid(spark)])
        app_id = spark.sparkContext.applicationId
    finally:
        harness.stop_session(spark)
    values = {name: 0.0 for name, _ in PER_LAYER}
    values.update(layers["values"])
    values.update(layers["from_log"](EventLog(os.path.join(run.sub("eventlog"), app_id))))
    values["session.start_s"] = session_s
    values["session.peak_rss_mb"] = rss
    values["codegen_fallbacks"] = cap.codegen_fallbacks()
    untraced_op = child["metrics"]["op_p50_s"]["value"]
    values["trace.overhead_frac"] = layers["op_s"] / untraced_op - 1
    table = {
        "workload": args.workload,
        "seed": args.seed,
        "untraced_op_p50_s": untraced_op,
        "traced_op_s": layers["op_s"],
        "layers": {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER},
        "attempted": m.attempted,
        "failed": m.failed,
        "problems": m.problems[:20],
    }
    return table, {"correct": m.failed == 0 and child["correct"], "attempted": m.attempted, "failed": m.failed}
