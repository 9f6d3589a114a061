"""The three workloads, untraced. Each is closed-loop from this one driver
process: the next operation starts when the previous one has returned.

A workload function takes (spark, run dir, inputs, seconds), runs one cold
operation (the set-up pass), then repeats the operation until `seconds`
have passed, and checks every operation's output outside its timed region.
It returns a ``Measured`` record.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import checks
import harness
import inputs

STREAM_CHUNK_FILES = 2  # files landed per availableNow query
QUERY_TIMEOUT_S = 120


@dataclass
class Measured:
    cold_s: float  # the first, cold operation (part of setup_s)
    walls: list[float]  # per measured operation: run, micro-batch or job
    items_per_s: float  # turns or documents per second
    attempted: int
    failed: int
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)  # workload-specific named metrics

    def op_p50_s(self) -> float:
        return statistics.median(self.walls)


def attempt(op) -> tuple[float, list[str]]:
    """Run op() -> (wall, problems); an exception is one failed operation."""
    t0 = time.perf_counter()
    try:
        return op()
    except Exception as e:  # the loop must go on; the failure is counted
        traceback.print_exc()
        return time.perf_counter() - t0, [f"raised {type(e).__name__}: {e}"[:500]]


def repeat(op, seconds: float) -> tuple[list[float], list[list[str]]]:
    walls, problems = [], []
    t0 = time.perf_counter()
    while not walls or time.perf_counter() - t0 < seconds:
        wall, p = attempt(op)
        walls.append(wall)
        problems.append(p)
    return walls, problems


def summarize(cold, walls, problems, items: int) -> Measured:
    """Per-operation results → Measured; throughput is items per median op."""
    all_problems = [cold[1]] + problems
    return Measured(
        cold_s=cold[0],
        walls=walls,
        items_per_s=items / statistics.median(walls),
        attempted=len(all_problems),
        failed=sum(1 for p in all_problems if p),
        problems=[x for p in all_problems for x in p][:20],
    )


def batch_op(spark, run, inp: inputs.Transcripts):
    """One run_pipeline over the seed's transcript table, then its checks."""
    from illumio_spark.plans.pipeline import run_pipeline
    from illumio_spark.sources.tableio import TableIO

    df = spark.read.parquet(inp.table)
    n = itertools.count()

    def op():
        io = TableIO(run.sub("sinks", f"op{next(n)}"))
        t0 = time.perf_counter()
        run_pipeline(spark, df, io=io, run_id="bench")
        wall = time.perf_counter() - t0
        problems = checks.batch_run_problems(spark, io, "bench", inp.expected)
        shutil.rmtree(io.root, ignore_errors=True)
        return wall, problems

    return op


def batch_fanout(spark, run, inp: inputs.Transcripts, seconds: float) -> Measured:
    op = batch_op(spark, run, inp)
    cold = attempt(op)
    walls, problems = repeat(op, seconds)
    m = summarize(cold, walls, problems, inp.n_turns)
    m.extra = {"turns_per_s": (m.items_per_s, "1/s")}
    return m


class StreamFeed:
    """Lands the seed's small files into the stream's input directory and
    runs availableNow queries of start_fanout_stream over it."""

    def __init__(self, spark, run, inp: inputs.Transcripts, io):
        self.spark, self.io, self.inp = spark, io, inp
        self.src = run.sub("stream_in")
        self.ckpt = run.sub("stream_ckpt")
        os.makedirs(self.src)
        self.pending = list(enumerate(inp.stream_files))
        self.landed: list[int] = []
        self.mtime0 = int(time.time())

    def land(self, k: int) -> int:
        """Copy the next k files in, oldest mtime first; returns their turns."""
        turns = 0
        for i, path in self.pending[:k]:
            dst = os.path.join(self.src, os.path.basename(path))
            shutil.copyfile(path, dst)
            os.utime(dst, (self.mtime0 + i, self.mtime0 + i))
            self.landed.append(i)
            turns += sum(v[0] for v in self.inp.stream_expected[i].values())
        self.pending = self.pending[k:]
        return turns

    def query(self) -> list[dict]:
        """One availableNow query; the progress of each batch that read data."""
        from illumio_spark.streaming.stream_pipeline import (
            read_transcript_stream,
            start_fanout_stream,
        )

        stream = read_transcript_stream(self.spark, self.src, max_files_per_trigger=1)
        q = start_fanout_stream(self.spark, stream, self.io, self.ckpt, available_now=True)
        if not q.awaitTermination(QUERY_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"availableNow query still running after {QUERY_TIMEOUT_S} s")
        return [p for p in q.recentProgress if p["numInputRows"] > 0]


def stream_microbatch(spark, run, inp: inputs.Transcripts, seconds: float) -> Measured:
    """start_fanout_stream(availableNow) with one small file per trigger;
    an operation is one micro-batch, timed by the engine's triggerExecution."""
    from illumio_spark.sources.tableio import TableIO

    st = StreamFeed(spark, run, inp, TableIO(run.sub("stream_sinks")))
    st.land(1)
    t0 = time.perf_counter()
    cold_err = attempt(lambda: (0.0, [] if st.query() else ["cold query read no data"]))[1]
    cold_s = time.perf_counter() - t0

    progress, turns, errors = [], 0, []
    t0 = time.perf_counter()
    while st.pending and (not progress or time.perf_counter() - t0 < seconds):
        turns += st.land(STREAM_CHUNK_FILES)
        try:
            progress += st.query()
        except Exception as e:  # a failed query ends the stream; its batches count as failed
            traceback.print_exc()
            errors.append(f"raised {type(e).__name__}: {e}"[:500])
            break
    stream_wall = time.perf_counter() - t0

    passed, problems = checks.stream_problems(
        spark, st.io, [inp.stream_expected[i] for i in st.landed]
    )
    walls = [p["durationMs"]["triggerExecution"] / 1000 for p in progress] or [stream_wall]
    tail_s, tail_pct = harness.tail(walls)
    m = Measured(
        cold_s=cold_s,
        walls=walls,
        items_per_s=turns / stream_wall,
        attempted=len(st.landed),
        failed=len(st.landed) - passed,
        problems=(cold_err + errors + problems)[:20],
    )
    m.extra = {
        "batch_p50_s": (m.op_p50_s(), "s"),
        "batch_tail_s": (tail_s, "s"),
        "batch_tail_percentile": (tail_pct, "%"),
        "batches": (len(walls), "count"),
        "stream_turns_per_s": (m.items_per_s, "1/s"),
    }
    return m


def dedup_op(spark, inp: inputs.Documents):
    """neardup_keepers over the corpus, then verbatim_overlap_spans and
    cut_verbatim_spans over the passages, on the engine-default hash; each
    result is consumed by one action and checked after the clock stops."""
    from illumio_spark.operators import dedup as D

    corpus = spark.read.parquet(inp.corpus)
    passages = spark.read.parquet(inp.passages)
    exp = inp.expected

    def op():
        t0 = time.perf_counter()
        kept = checks.frame_checksum(D.neardup_keepers(corpus), "doc_id", "text")
        spans = D.verbatim_overlap_spans(passages, k=inputs.SPAN_K)
        span_rows = sorted(list(r) for r in spans.collect())
        cut = D.cut_verbatim_spans(passages, spans, min_span_tokens=inputs.MIN_SPAN_TOKENS)
        cut_sum = checks.frame_checksum(cut, "doc_id", "text")
        wall = time.perf_counter() - t0
        return wall, (
            checks.compare("keepers [count, checksum]", kept, exp["keepers"])
            + checks.compare("spans", span_rows, exp["spans"])
            + checks.compare("cut [count, checksum]", cut_sum, exp["cut"])
        )

    return op


def dedup_curation(spark, run, inp: inputs.Documents, seconds: float) -> Measured:
    op = dedup_op(spark, inp)
    cold = attempt(op)
    walls, problems = repeat(op, seconds)
    m = summarize(cold, walls, problems, inp.n_docs)
    m.extra = {"docs_per_s": (m.items_per_s, "1/s")}
    return m


WORKLOADS = {
    "batch_fanout": batch_fanout,
    "stream_microbatch": stream_microbatch,
    "dedup_curation": dedup_curation,
}

