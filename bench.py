"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1
testdata directory) on build_session's default master (local[N], N =
$SPARK_GRAFT_CPUS, else the host's core count) and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...extras}

The transcript-pipeline end-to-end run (parse→enrich→route→aggregate →
sinks) is the headline metric; its input is synthesized deterministically
once per scale and cached under .bench_cache/ so the measured time is the
pipeline, not the generator. Query results are forced with the noop sink
(full execution, no collect/IO skew).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")

# conversations per unit SF (mean ≈ 13.3 turns/conv → sf0.1 ≈ 1M turns)
CONV_PER_SF = 750_000
HOT_FRAC = 0.2
SYNTH_VERSION = 2  # bump when synth.py changes payload shape (invalidates cache)

HEADLINE = [
    "q1_pricing_summary",
    "q3_revenue_topn",
    "j1_broadcast_enrich",
    "a7_count_distinct",
    "j2_route_fanout",
    "td_exact_dedup",
    "td_minhash_signature",
    "td_minhash_lsh_pairs",
    "td_simhash_neardup",
    "td_embedding_neardup",
    "td_ann_cosine_topk",
    "td_token_count",
    "p4_nested_extraction",
    "td_decontaminate",
    "td_hash_embed_pairs",
    "td_ann_ivf_topk",
    "td_bigram_lm",
    "td_pii_scrub",
    "td_repetition_signals",
    "td_c4_filters",
    "td_session_gaps",
    "td_neardup_components",
    "td_verbatim_spans",
    "td_mixture_weights",
    "td_pack_chunks",
    "td_apply_mixture",
    "td_token_budget",
    "td_chunk_documents",
    "td_top_frac",
    "td_shuffle_shards",
    "td_split_corpus",
    "td_incremental_neardup",
    "td_cut_spans",
    "td_split_grouped",
    "td_compact_frontier",
    "td_incremental_embedding",
]


def bench_overrides() -> dict:
    """Engine-default variants for the bench: the registry queries keep
    hash_fn='md5' so DuckDB can reproduce their signatures bit-for-bit; at
    scale the engine default is xxhash64 (same operator, same plan shape,
    8-byte keys, no digest/hex work — pair-output parity is pytest-asserted
    in tests/test_dedup_similarity.py). The bench measures the path a real
    deployment runs."""
    from illumio_spark.operators import dedup as D
    from illumio_spark.queries.catalog import (
        a7_count_distinct,
        q1_pricing_summary,
        q3_revenue_topn,
    )
    from illumio_spark.queries.catalog_td import _neardup_corpus, td_token_count

    return {
        # rotated out of the driver registry in r5 (pytest-oracled in
        # tests/test_retired_queries.py) but kept as bench probes so the
        # scan-agg / join-agg headline numbers stay round-comparable
        "q1_pricing_summary": q1_pricing_summary,
        "q3_revenue_topn": q3_revenue_topn,
        "a7_count_distinct": a7_count_distinct,
        # rotated out in r6 (slot went to td_verbatim_spans); kept here so
        # the row-level JVM projection number stays round-comparable
        "td_token_count": td_token_count,
        # rotated out late r7 (slot went to td_incremental_embedding);
        # kept so the hash-embed lineage number stays round-comparable
        "td_hash_embed_pairs": _hash_embed_pairs_probe,
        "td_minhash_lsh_pairs": lambda spark, sf_dir: D.minhash_lsh_pairs(
            _neardup_corpus(spark, sf_dir), hash_fn="xxhash64"
        ),
        "td_simhash_neardup": lambda spark, sf_dir: D.simhash_neardup_pairs(
            _neardup_corpus(spark, sf_dir), max_hamming=3, hash_fn="xxhash64"
        ),
        "td_neardup_components": lambda spark, sf_dir: D.neardup_components(
            _neardup_corpus(spark, sf_dir).select("doc_id"),
            D.minhash_lsh_pairs(_neardup_corpus(spark, sf_dir), hash_fn="xxhash64"),
        ),
        "td_minhash_signature": lambda spark, sf_dir: D.minhash_signatures_df(
            spark.read.parquet(f"{sf_dir}/documents.parquet").filter("doc_id < 100"),
            n_hashes=4,
            hash_fn="xxhash64",
        ),
        # new r6: span-locating ExactSubstr on the engine-default hash
        # (registry row uses md5 + k=4 for oracle parity)
        "td_verbatim_spans": lambda spark, sf_dir: D.verbatim_overlap_spans(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), k=4, hash_fn="xxhash64"
        ),
        # late r6: shard shuffle on the engine-default hash (registry row
        # uses the md5 oracle-parity mode)
        "td_shuffle_shards": _shuffle_shards_fast,
        # r7: cross-run near-dup frontier, span excision, and grouped
        # split on the engine-default hash (registry rows run md5)
        "td_incremental_neardup": _incremental_neardup_fast,
        "td_cut_spans": _cut_spans_fast,
        "td_split_grouped": _split_grouped_fast,
        # r7: frontier compaction (star-edge CC) on the engine-default hash
        "td_compact_frontier": _compact_frontier_fast,
    }


def _hash_embed_pairs_probe(spark, sf_dir):
    from illumio_spark.queries.catalog_td import td_hash_embed_pairs

    return td_hash_embed_pairs(spark, sf_dir)


def _compact_frontier_fast(spark, sf_dir):
    from illumio_spark.operators import dedup as D
    from illumio_spark.queries.catalog_td import _neardup_corpus

    bands = D.band_signatures(_neardup_corpus(spark, sf_dir), hash_fn="xxhash64")
    return D.compact_neardup_frontier(bands)


def _incremental_neardup_fast(spark, sf_dir):
    from illumio_spark.operators import dedup as D
    from illumio_spark.queries.catalog_td import _neardup_corpus

    corpus = _neardup_corpus(spark, sf_dir)
    seen_bands = D.band_signatures(corpus.filter("doc_id < 15"))
    kept, _, _ = D.incremental_neardup(corpus.filter("doc_id >= 15"), seen_bands)
    return kept.select("doc_id")


def _cut_spans_fast(spark, sf_dir):
    from illumio_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    spans = D.verbatim_overlap_spans(docs, k=4, hash_fn="xxhash64")
    return D.cut_verbatim_spans(docs, spans, min_span_tokens=6)


def _split_grouped_fast(spark, sf_dir):
    from illumio_spark.operators import dedup as D
    from illumio_spark.operators.curation import assign_splits
    from illumio_spark.queries.catalog_td import _SPLIT_FRACS, _neardup_corpus

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(corpus, hash_fn="xxhash64")
    comp = D.neardup_components(corpus.select("doc_id"), pairs)
    return assign_splits(comp, _SPLIT_FRACS, group_col="component").select(
        "doc_id", "component", "split"
    )


def _shuffle_shards_fast(spark, sf_dir):
    from illumio_spark.operators.curation import shuffle_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shuffle_shards(docs, 1024).select("source", "doc_id", "sort_key", "shard")


def disk_probe_mb_s(size_mb: int = 128) -> float:
    """Sequential fsync'd write throughput of the shared disk right now.
    The disk is host-shared and swings >40× between sessions (measured
    721 MB/s … 16 MB/s); pipeline_e2e writes its sinks through it, so the
    number is only interpretable alongside this probe."""
    buf = os.urandom(size_mb * 1024 * 1024)
    path = os.path.join(tempfile.gettempdir(), "bench_io_probe.bin")
    t0 = time.time()
    with open(path, "wb") as f:
        f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    dt = time.time() - t0
    os.remove(path)
    return size_mb / dt


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def transcripts_path(spark, sf: float) -> tuple[str, int]:
    """Deterministic cached transcript input for this scale."""
    n_conv = max(int(sf * CONV_PER_SF), 200)
    path = os.path.join(CACHE_DIR, f"transcripts_v{SYNTH_VERSION}_nconv{n_conv}.parquet")
    meta = path + ".meta.json"
    if not (os.path.exists(path) and os.path.exists(meta)):
        from illumio_spark import synth

        df = synth.generate_spark(spark, n_conv, hot_frac=HOT_FRAC, parallelism=64)
        df.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        with open(meta, "w") as f:
            json.dump({"n_turns": n, "n_conv": n_conv}, f)
    with open(meta) as f:
        return path, json.load(f)["n_turns"]


def bench_pipeline(spark, sf: float, warmup: bool = True) -> tuple[float, int]:
    from illumio_spark.plans.pipeline import run_pipeline
    from illumio_spark.sources.tableio import TableIO

    path, n_turns = transcripts_path(spark, sf)
    out = tempfile.mkdtemp(prefix="bench_sinks_")
    try:
        df = spark.read.parquet(path)
        if warmup:
            # JIT/codegen warm at full shape (limit() slices change the plan
            # and leave the hot paths cold); report steady-state like a real
            # long-running cluster job, where cold-start amortizes to zero
            for _ in range(2):
                run_pipeline(spark, df, io=TableIO(out + "_warm"), run_id="warm")
                shutil.rmtree(out + "_warm", ignore_errors=True)
        t0 = time.time()
        run_pipeline(spark, df, io=TableIO(out), run_id="bench")
        return time.time() - t0, n_turns
    finally:
        shutil.rmtree(out, ignore_errors=True)


class StderrCapture:
    """Tee fd 2 to a file so the JVM's log4j output (which inherits the
    Python process's stderr) can be scanned for codegen compile failures.
    A contended-host number and a broken plan must never be conflated
    again (VERDICT r3 'what's wrong #3'): any 'Failed to compile' /
    'grows beyond 64 KB' in the run flips codegen_fallback=true in the
    output JSON."""

    _PATTERNS = (b"Failed to compile", b"grows beyond 64 KB", b"ERROR CodeGenerator")

    def __enter__(self):
        self.path = os.path.join(tempfile.gettempdir(), f"bench_stderr_{os.getpid()}.log")
        self.saved_fd = os.dup(2)
        self.f = open(self.path, "wb")
        os.dup2(self.f.fileno(), 2)
        return self

    def __exit__(self, *exc):
        os.dup2(self.saved_fd, 2)
        os.close(self.saved_fd)
        self.f.close()

    def codegen_fallback(self) -> bool:
        with open(self.path, "rb") as f:
            data = f.read()
        hit = any(p in data for p in self._PATTERNS)
        if hit:  # surface the evidence on the restored stderr
            for line in data.splitlines():
                if any(p in line for p in self._PATTERNS):
                    sys.stderr.write(line.decode(errors="replace")[:300] + "\n")
        os.remove(self.path)
        return hit


def sf1_arm(spark) -> dict | None:
    """At-scale regression arm (VERDICT r5 task 8): pipeline_e2e at
    sf1.0 (~13 M turns) plus the dedup family on the 10× document corpus,
    each run ONCE — the sf0.1 arm that just ran warmed every plan shape
    (JIT is shape-bound, not size-bound), so these are steady-state
    numbers at ~1/10th the cost of re-warming at scale.

    Gate: env SPARK_GRAFT_SF1 — '1' forces (synthesizes caches if absent,
    ~10 min first time), '0' disables, unset/'auto' runs IFF both
    .bench_cache corpora already exist (never surprises the driver with
    synthesis cost)."""
    flag = os.environ.get("SPARK_GRAFT_SF1", "auto").lower()
    if flag in ("0", "off", "false"):
        return None
    n_conv = max(int(1.0 * CONV_PER_SF), 200)
    t_cache = os.path.join(CACHE_DIR, f"transcripts_v{SYNTH_VERSION}_nconv{n_conv}.parquet")
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH"))
    import points as S

    d_cache = os.path.join(CACHE_DIR, f"documents_v{S.DOCS_V}_mult10.parquet")
    if flag not in ("1", "on", "true") and not (
        os.path.exists(t_cache) and os.path.exists(d_cache)
    ):
        return None
    from pyspark.sql import functions as F

    out: dict = {}
    elapsed, n_turns = bench_pipeline(spark, 1.0, warmup=False)
    out["pipeline_e2e"] = round(elapsed, 3)
    out["pipeline_turns"] = n_turns
    out["pipeline_turns_per_sec"] = round(n_turns / elapsed, 1)
    corpus = S.docs_corpus(spark, 10)
    out["n_docs"] = corpus.count()
    eval_df = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", "text")
    )
    for name, thunk in S.dedup_suite(spark, corpus, eval_df).items():
        t0 = time.time()
        thunk().write.mode("overwrite").format("noop").save()
        out[name] = round(time.time() - t0, 3)
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)

    from illumio_spark.session import build_session, codegen_compile_count
    import __spark_entry__ as entry_mod

    with StderrCapture() as cap:
        spark = build_session(app_name="bench")
        spark.sparkContext.setLogLevel("ERROR")
        cpus = spark.sparkContext.defaultParallelism
        compiles0 = codegen_compile_count(spark)

        queries: dict[str, float] = {}

        disk_mb_s = round(disk_probe_mb_s())
        elapsed, n_turns = bench_pipeline(spark, sf)
        queries["pipeline_e2e"] = round(elapsed, 3)
        turns_per_sec = n_turns / elapsed

        qmap = entry_mod.queries()
        qmap.update(bench_overrides())  # engine-default (xxhash64) dedup paths
        for name in HEADLINE:
            t0 = time.time()
            qmap[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            queries[name] = round(time.time() - t0, 3)

        sf1 = sf1_arm(spark)

        compiles = codegen_compile_count(spark) - compiles0
        spark.stop()

    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "pipeline_turns": n_turns,
                "pipeline_turns_per_sec": round(turns_per_sec, 1),
                "cpus": cpus,
                "disk_mb_s": disk_mb_s,
                "codegen_fallback": cap.codegen_fallback(),
                # generated classes compiled over the run (cache misses)
                "codegen_compiles": compiles,
                **({"sf1": sf1} if sf1 else {}),
            }
        )
    )


if __name__ == "__main__":
    main()
